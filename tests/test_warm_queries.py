"""A warm query reuses what the previous run of the same query produced:
``_load`` takes each table's schema from ``_TABLE_SCHEMAS`` (no inference
job), and the session's codegen cache holds every class the headline
queries generate (no recompile). Also pins how many jobs each headline
query, shape_join_intersects and the two cell-pruned kNN queries run while
the DataFrame is built, and that building spatial_join_points runs none."""

import os
from contextlib import contextmanager

import pytest
from pyspark.sql.types import StructType

import __spark_entry__ as em
from bench import HEADLINE
from geostructures_spark.plans.session import get_session
from perfbench.workloads import DATA_DIR as SF001  # the sf0.01 tables the headline reads

TESTDATA = '/root/testdata'  # TESTDATA.md
SCALES = {sf: os.path.join(TESTDATA, sf) for sf in ('sf0.001', 'sf0.01', 'sf0.1')}
SCALES['perfbench-sf0.01'] = SF001

# Jobs a warm query runs while its DataFrame is built, at sf0.01.
BUILD_JOB_BUDGET = {
    'q1_pricing_summary': 0,
    'niemeyer_cell_counts': 0,
    'h3_cell_counts': 0,
    'pip_triangle_counts': 0,
    # spatial_join_points decides without a job: its points key at every
    # level, a plain circle refines in the JVM per row, and the broadcast
    # follows Spark's static size estimate of the catalog
    'spatial_join_circles': 0,
    'knn_topk': 0,
    'track_speed_stats': 0,
    'minhash_lsh_pairs': 0,
    'simhash_buckets': 0,
    'text_stats': 0,
    # cosine_topk_ivf collects the centroids to the driver
    'cosine_topk': 1,
    'events_windowed_agg': 0,
    # not headline queries: knn_join keys points and query rings in the
    # JVM, with no probe; knn_join_auto's one certification collect per
    # ring round (rings 1 and 2 here), five jobs under AQE
    'knn_pruned_topk': 0,
    'knn_auto_topk': 10,
    # not a headline query: shape_join's one `_catalog_size` agg over both
    # sides (broadcast budget and cover levels), two jobs under AQE
    'shape_join_intersects': 2,
}


@pytest.fixture(scope='module')
def spark():
    return get_session(app='tests', cores=4, shuffle_partitions=8)


@contextmanager
def _job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty('spark.jobGroup.id', None)
        sc.setLocalProperty('spark.job.description', None)


def _jobs_in_group(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker through it
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize('sf_dir', SCALES.values(), ids=SCALES.keys())
def test_schema_table_matches_the_files(spark, sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip(f'{sf_dir} is absent')
    names = [n for n in em._TABLE_SCHEMAS if os.path.exists(os.path.join(sf_dir, f'{n}.parquet'))]
    assert names
    for n in names:
        inferred = spark.read.parquet(os.path.join(sf_dir, f'{n}.parquet')).schema
        assert StructType.fromDDL(em._TABLE_SCHEMAS[n]) == inferred, n


def test_load_runs_no_job(spark):
    names = [n for n in em._TABLE_SCHEMAS if os.path.exists(os.path.join(SF001, f'{n}.parquet'))]
    with _job_group(spark, 'test_load_runs_no_job'):
        em._load(spark, SF001, *names)
    assert _jobs_in_group(spark, 'test_load_runs_no_job') == 0
    for n in names:
        assert spark.table(n).schema == StructType.fromDDL(em._TABLE_SCHEMAS[n])


def test_unknown_table_raises(spark):
    with pytest.raises(KeyError):
        em._load(spark, SF001, 'part')


@pytest.fixture(scope='module')
def headline_passes(spark):
    """Two passes over the budgeted queries at sf0.01. Per pass and query:
    the jobs its DataFrame build ran, and the Janino compiles of the build
    and the collect."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    queries = em.queries()
    passes = []
    for p in range(2):
        build_jobs, compiled = {}, {}
        for name in BUILD_JOB_BUDGET:
            group = f'headline-{p}-{name}'
            c0 = compiles.getCount()
            # nation and region, which shape_join_intersects reads, are
            # only in the testdata scales
            sf_dir = SF001 if name in HEADLINE else SCALES['sf0.01']
            with _job_group(spark, group):
                df = queries[name](spark, sf_dir)
            df.collect()
            compiled[name] = compiles.getCount() - c0
            build_jobs[name] = _jobs_in_group(spark, group)
        passes.append((build_jobs, compiled))
    assert compiles.getCount() > 0
    return passes


def test_warm_rerun_compiles_no_code(headline_passes):
    _, compiled = headline_passes[1]
    # not shape_join_intersects: AQE may broadcast either side of its cover
    # join, by which shuffle stage finishes first, and the aggregate after
    # it then compiles once per input order
    assert {q: compiled[q] for q in HEADLINE} == dict.fromkeys(HEADLINE, 0)


def test_headline_build_job_budget(headline_passes):
    build_jobs, _ = headline_passes[1]
    assert build_jobs == BUILD_JOB_BUDGET


def test_spatial_join_points_builds_with_no_job(spark, tmp_path):
    """A Parquet mixed catalog like the shape_join workload's, and the
    literal-kind circles of spatial_join_circles: building the join runs no
    Spark job."""
    from geostructures_spark.operators.miner import mine_points
    from geostructures_spark.operators.spatial_join import spatial_join_points
    from geostructures_spark.sources.pages import pages_df
    from geostructures_spark.sources.shapes import shapes_df
    pages_df(spark, 500, seed=10001).write.parquet(str(tmp_path / 'pages'))
    shapes_df(spark, 120, seed=10001).write.parquet(str(tmp_path / 'shapes'))
    pages, shapes = (spark.read.parquet(str(tmp_path / n)) for n in ('pages', 'shapes'))
    with _job_group(spark, 'spatial_join_points-mixed'):
        spatial_join_points(mine_points(pages), shapes, length=6, time_gated=True)
    with _job_group(spark, 'spatial_join_points-circles'):
        em.queries()['spatial_join_circles'](spark, SF001)
    assert _jobs_in_group(spark, 'spatial_join_points-mixed') == 0
    assert _jobs_in_group(spark, 'spatial_join_points-circles') == 0
