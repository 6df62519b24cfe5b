"""Dump and assert the physical-plan properties the engine relies on at
scale: column pruning (html never read), predicate pushdown to Parquet,
and broadcast of the shape-cover side of the spatial join.

Usage: python scripts/explain_plans.py  (exit 1 if any property regressed)
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em
from geostructures_spark.operators.miner import mine_cell_counts
from geostructures_spark.plans.session import get_session
from geostructures_spark.sources.pages import pages_df


def formatted(df) -> str:
    je = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return je.explainString(mode.fromString('formatted'))


def n_exchanges(plan: str) -> int:
    """Count physical Exchange nodes once (the formatted dump prints each
    node in both the tree and the detail listing)."""
    import re
    return len(re.findall(r'^\(\d+\) (?:Broadcast)?Exchange', plan,
                          flags=re.M))


def main() -> int:
    spark = get_session(app='explain', cores=4)
    sf = '/root/testdata/sf0.01'
    ok = True

    d = tempfile.mkdtemp()
    p = os.path.join(d, 'pages.parquet')
    pages_df(spark, 2000).write.parquet(p)
    plan = formatted(mine_cell_counts(spark.read.parquet(p)))
    pruned = all('html' not in l for l in plan.splitlines() if 'ReadSchema' in l)
    print(f'[{"OK" if pruned else "FAIL"}] pages pipeline prunes html at the scan')
    ok &= pruned

    plan = formatted(em.queries()['spatial_join_circles'](spark, sf))
    bcast = 'BroadcastHashJoin' in plan
    print(f'[{"OK" if bcast else "FAIL"}] spatial join broadcasts the cover side')
    ok &= bcast

    plan = formatted(em.queries()['q1_pricing_summary'](spark, sf))
    pushed = any('PushedFilters: [IsNotNull' in l for l in plan.splitlines())
    print(f'[{"OK" if pushed else "FAIL"}] q1 pushes the shipdate filter to Parquet')
    ok &= pushed

    # salted spatial join: the numeric (cell key, shard) pair joins (hot
    # cells split into shards)
    import re
    from pyspark.sql import functions as F
    from geostructures_spark.operators.spatial_join import spatial_join_points
    em._load(spark, sf, 'customer', 'supplier')
    pts = spark.sql(em._pts_customer_sql()).withColumnRenamed('pid', 'url')
    shapes = em._shapes_from_keys(spark, em._pts_supplier_sql(), '500000.0')
    plan = formatted(spatial_join_points(pts, shapes, length=4, base=16,
                                         time_gated=False, salt_shards=4))
    salted = (re.search(r'BroadcastHashJoin[^\n]*\nLeft keys \[2\]: '
                        r'\[_ck#\d+L, _shard#\d+\]', plan) is not None)
    print(f'[{"OK" if salted else "FAIL"}] salted join keys on (cell key, _shard) '
          f'with the cover side still broadcast')
    ok &= salted

    # all-circle catalog (a literal kind): the exact predicate is the JVM
    # haversine expression, Catalyst folds the spec join and the UDF away —
    # no Python evaluation node and no _spec anywhere in the join, for both
    # the broadcast and the over-budget (no driver collect) plans
    plan = formatted(spatial_join_points(pts, shapes, length=4, base=16,
                                         time_gated=False))
    jvm_pred = ('EvalPython' not in plan and '_spec' not in plan
                and 'ATAN2' in plan.upper())
    print(f'[{"OK" if jvm_pred else "FAIL"}] all-circle join is pure JVM '
          f'(no Python eval, no _spec; haversine in codegen)')
    ok &= jvm_pred
    plan = formatted(spatial_join_points(pts, shapes, length=4, base=16,
                                         time_gated=False,
                                         max_broadcast_shapes=0))
    jvm_pred0 = 'EvalPython' not in plan and '_spec' not in plan
    print(f'[{"OK" if jvm_pred0 else "FAIL"}] over-budget all-circle join '
          f'stays JVM with no driver collect')
    ok &= jvm_pred0

    # non-circle catalogs refine through the JSON-spec predicate: beyond
    # the broadcast budget the spec ships through a shuffled shape_id
    # equi-join; within it through a broadcast one (never collected)
    poly = spark.sql(
        "SELECT CAST(qid AS LONG) AS shape_id, 'polygon' AS kind, "
        'CAST(NULL AS struct<center_lon:double,center_lat:double,radius:double>) AS params, '
        'array(array(named_struct("lon", q_lon - 1.0e0, "lat", q_lat - 1.0e0), '
        'named_struct("lon", q_lon + 1.0e0, "lat", q_lat - 1.0e0), '
        'named_struct("lon", q_lon, "lat", q_lat + 1.0e0), '
        'named_struct("lon", q_lon - 1.0e0, "lat", q_lat - 1.0e0))) AS rings, '
        'CAST(NULL AS timestamp) AS dt_start, CAST(NULL AS timestamp) AS dt_end '
        f'FROM ({em._pts_supplier_sql()})')
    plan = formatted(spatial_join_points(pts, poly, length=4, base=16,
                                         time_gated=False,
                                         max_broadcast_shapes=0))
    spec = '_spec' in plan and 'structstojson' in plan.lower()
    print(f'[{"OK" if spec else "FAIL"}] over-budget polygon catalog ships '
          f'specs through the join (no driver collect)')
    ok &= spec
    plan = formatted(spatial_join_points(pts, poly, length=4, base=16,
                                         time_gated=False))
    spec_bc = ('structstojson' in plan.lower() and re.search(
        r'BroadcastHashJoin[^\n]*\nLeft keys \[1\]: \[shape_id#\d+L\]\n'
        r'Right keys \[1\]: \[shape_id#\d+L\]', plan) is not None
        and re.search(r'BroadcastExchange[^\n]*\nInput \[2\]: '
                      r'\[shape_id#\d+L, _spec#\d+\]', plan) is not None)
    print(f'[{"OK" if spec_bc else "FAIL"}] within-budget polygon catalog ships '
          f'_spec through a broadcast shape_id join')
    ok &= spec_bc

    # shape-vs-shape join: both sides cover in the JVM window (no Python
    # cover stage), one spec UDF refines every pair, each side's
    # (id, dt, _spec) relation joined once by id — broadcast within the
    # budget, shuffled beyond it. Spark's own size-based broadcast is off
    # here, so only the operator's hints can broadcast.
    from geostructures_spark.operators import spatial_join as spj
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    budget = spj._BROADCAST_MAX_SHAPES
    for within in (True, False):
        spj._BROADCAST_MAX_SHAPES = budget if within else 0
        plan = formatted(em.queries()['shape_join_intersects'](spark, sf))
        n_py = len(re.findall(r'^\(\d+\) \w*EvalPython', plan, flags=re.M))
        bc = re.findall(r'^\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]',
                        plan, flags=re.M)
        bc_specs = sorted(s for cols in bc for s in ('_spec_a', '_spec_b') if s in cols)
        if within:
            good = n_py == 1 and bc_specs == ['_spec_a', '_spec_b']
            what = 'within budget: one Python eval node, both spec sides broadcast'
        else:
            good = (not bc_specs and '_spec_a' in plan and '_spec_b' in plan
                    and 'SortMergeJoin' in plan)
            what = 'budget 0: spec sides planned as shuffle joins'
        good &= 'MapInPandas' not in plan
        what += ', no MapInPandas cover'
        print(f'[{"OK" if good else "FAIL"}] shape_join {what}')
        ok &= good
    spj._BROADCAST_MAX_SHAPES = budget
    spark.conf.unset('spark.sql.autoBroadcastJoinThreshold')

    # mixed catalogs: every cover is the JVM window at the shape's level
    # (no Python cover stage) and the join keys on the packed BIGINT cell
    # index, not a cell string — within the window budget at length 4,
    # and with a 20 x 20 degree polygon over it at length 6
    mixed = shapes.drop('properties').unionByName(
        poly.withColumn('shape_id', F.col('shape_id') + 1_000_000))
    big = poly.limit(1).selectExpr(
        '-1L AS shape_id', 'kind', 'params',
        'array(array(named_struct("lon", 0.0e0, "lat", 10.0e0), '
        'named_struct("lon", 20.0e0, "lat", 10.0e0), '
        'named_struct("lon", 20.0e0, "lat", 30.0e0), '
        'named_struct("lon", 0.0e0, "lat", 30.0e0), '
        'named_struct("lon", 0.0e0, "lat", 10.0e0))) AS rings',
        'dt_start', 'dt_end')
    for label, catalog, length in (
            ('mixed catalog', mixed, 4),
            ('mixed catalog with an over-budget polygon', mixed.unionByName(big), 6)):
        plan = formatted(spatial_join_points(pts, catalog, length=length, base=16,
                                             time_gated=False))
        window = ('MapInPandas' not in plan and
                  re.search(r'Left keys \[1\]: \[_ck#\d+L\]', plan) is not None)
        print(f'[{"OK" if window else "FAIL"}] {label} covers in the JVM '
              f'window (no MapInPandas) and joins on a bigint key')
        ok &= window

    # cell-pruned kNN: points and query rings key on the packed BIGINT cell
    # index in the JVM — no Python evaluation node, a bigint join key
    plan = formatted(em.queries()['knn_pruned_topk'](spark, sf))
    knn = ('EvalPython' not in plan and
           re.search(r'Left keys \[1\]: \[_ck#\d+L\]', plan) is not None)
    print(f'[{"OK" if knn else "FAIL"}] knn_pruned_topk has no Python eval '
          f'and joins on a bigint key')
    ok &= knn

    # bucketed co-located join: repeated joins on the points' cell key scan
    # pre-bucketed storage with NO Exchange on either side
    from geostructures_spark.plans.bucketing import bucketed_join, write_bucketed
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    a = spark.range(20000).selectExpr('CAST(id % 997 AS STRING) AS cell', 'id AS v1')
    b = spark.range(8000).selectExpr('CAST(id % 997 AS STRING) AS cell', 'id AS v2')
    import shutil
    for t in ('plans_buck_a', 'plans_buck_b'):
        spark.sql(f'DROP TABLE IF EXISTS {t}')
        shutil.rmtree(os.path.join('spark-warehouse', t), ignore_errors=True)
    write_bucketed(a, 'plans_buck_a', 'cell', 16)
    write_bucketed(b, 'plans_buck_b', 'cell', 16)
    plan = formatted(bucketed_join(spark, 'plans_buck_a', 'plans_buck_b', 'cell'))
    no_shuffle = 'Exchange' not in plan
    print(f'[{"OK" if no_shuffle else "FAIL"}] bucketed cell join plans with '
          f'no Exchange (co-located)')
    ok &= no_shuffle
    spark.sql('DROP TABLE IF EXISTS plans_buck_a')
    spark.sql('DROP TABLE IF EXISTS plans_buck_b')
    # restore the default: later assertions must see stock planning
    spark.conf.unset('spark.sql.autoBroadcastJoinThreshold')

    # Web Mercator reprojection: pure column expressions — the whole query
    # must stay inside codegen, zero Python evaluation nodes
    plan = formatted(em.queries()['web_mercator_roundtrip'](spark, sf))
    pure = ('EvalPython' not in plan and
            any('ReadSchema' in l and 'c_custkey' in l and ',' not in l.split('struct<')[-1]
                for l in plan.splitlines()))
    print(f'[{"OK" if pure else "FAIL"}] web mercator is pure column exprs '
          f'over a single-column pruned scan (no Python eval)')
    ok &= pure

    # Embedding near-dup: GEMM assign (one MapInPandas stage against the
    # broadcast centroid matrix — r4; the r3 plan was a
    # BroadcastNestedLoopJoin row expansion) and candidate generation as
    # an equi-join on the bucket key, never any cross/nested-loop join
    plan = formatted(em.queries()['embedding_neardup_pairs'](spark, sf))
    bucketed = ('BroadcastNestedLoopJoin' not in plan
                and 'CartesianProduct' not in plan
                # GEMM kernel runs as a vectorized pandas UDF
                # (ArrowEvalPython) since the r4 single-eval refactor
                and ('ArrowEvalPython' in plan or 'MapInPandas' in plan)
                and 'centroid_id' in plan)
    print(f'[{"OK" if bucketed else "FAIL"}] embedding near-dup pairs: GEMM '
          f'assign + bucket-key equi-join (no cross/nested-loop join)')
    ok &= bucketed

    # Quality gate (r4): textstats columns + Arrow repetition kernel in
    # ONE scan->mapInPandas chain — no Exchange anywhere, and the scan
    # pruned to (doc_id, text)
    plan = formatted(em.queries()['quality_gate_mask'](spark, sf))
    gate = n_exchanges(plan) <= 1  # the final orderBy range exchange
    pruned = any('ReadSchema' in l and 'doc_id' in l and 'text' in l
                 and 'lang' not in l for l in plan.splitlines())
    print(f'[{"OK" if gate and pruned else "FAIL"}] quality gate: zero '
          f'data-path shuffles (only the contract orderBy exchange) over '
          f'a (doc_id, text)-pruned scan')
    ok &= gate and pruned

    # Deterministic sampling (r4): the md5-bucket filter is a JVM-side
    # post-scan Filter (no Python eval), scan pruned to the 3 used cols
    plan = formatted(em.queries()['hash_sample_docs'](spark, sf))
    samp = ('EvalPython' not in plan and 'md5' in plan
            and n_exchanges(plan) <= 1)
    print(f'[{"OK" if samp else "FAIL"}] hash sampling: JVM md5 filter at '
          f'scan stage, no Python eval, no data-path shuffle')
    ok &= samp

    # Sequence packing (r4): exactly ONE data shuffle (the range
    # repartition); the prefix sum itself adds none
    from geostructures_spark.operators.packing import pack_sequences
    res = pack_sequences(spark.read.parquet(f'{sf}/documents.parquet'), 256)
    plan = formatted(res.df)
    # the one range Exchange lives INSIDE the persisted ranged frame
    # (InMemoryRelation prints it twice: AQE-final + original); nothing
    # downstream of the cache may shuffle
    import re
    nodes = {int(m.group(1)): m.group(2) for m in
             re.finditer(r'^\((\d+)\) (\S+)', plan, flags=re.M)}
    rel = min((i for i, n in nodes.items() if n == 'InMemoryRelation'),
              default=-1)
    mip = min((i for i, n in nodes.items() if n == 'MapInPandas'),
              default=-1)
    exch = [i for i, n in nodes.items() if 'Exchange' in n]
    packed = (rel > 0 and mip > 0
              and all(rel < i < mip for i in exch))
    res.unpersist()
    print(f'[{"OK" if packed else "FAIL"}] sequence packing: one range '
          f'shuffle + per-partition Arrow cumsum (no global-window '
          f'single-task collapse)')
    ok &= packed

    # C4 clean (r4 late): line + page rules are per-row array exprs —
    # zero Exchange besides the contract orderBy, no Python eval
    plan = formatted(em.queries()['c4_filter_docs'](spark, sf))
    c4 = 'EvalPython' not in plan and n_exchanges(plan) <= 1
    print(f'[{"OK" if c4 else "FAIL"}] c4 clean: per-row array exprs, '
          f'no Python eval, no data-path shuffle')
    ok &= c4

    # LM scoring (r4 late): broadcast joins against vocab-sized count
    # tables — no SortMergeJoin, no Window in the scoring path
    plan = formatted(em.queries()['lm_score_docs'](spark, sf))
    lm = ('BroadcastHashJoin' in plan and 'SortMergeJoin' not in plan
          and 'Window' not in plan.replace('session_window', ''))
    print(f'[{"OK" if lm else "FAIL"}] lm scoring: broadcast count-table '
          f'joins, no sort-merge join, no window')
    ok &= lm

    # PQ encode (r4 late): ZERO-shuffle mapInPandas over the pruned
    # (vec_id, embedding) scan; the contract orderBy is the only exchange
    plan = formatted(em.queries()['pq_encode_codes'](spark, sf))
    pq = (('MapInPandas' in plan or 'ArrowEvalPython' in plan)
          and n_exchanges(plan) <= 1)
    print(f'[{"OK" if pq else "FAIL"}] pq encode: one Arrow stage, '
          f'no data-path shuffle')
    ok &= pq

    # Big-Q ADC (r5): fragment-replicate cogroup — the query side reaches
    # the scorer through a shuffle on _split, never a driver collect or
    # broadcast; the scorer is FlatMapCoGroupsInPandas
    from pyspark.sql import functions as F
    from geostructures_spark.operators.pq import (pq_adc_topk_bigq,
                                                  pq_encode, pq_train)
    vecs = spark.range(200).selectExpr(
        'id AS vec_id',
        'transform(sequence(1, 8), i -> cast(cos(id * 3 + i) as double))'
        ' AS embedding')
    books = pq_train(vecs, m=2, ksub=4, n_iter=1)
    q = (vecs.where(F.col('vec_id') < 5)
         .select(F.col('vec_id').alias('query_id'),
                 F.col('embedding').alias('q_embedding')))
    plan = formatted(pq_adc_topk_bigq(pq_encode(vecs, books), books, q, k=3))
    # the only legitimate broadcast is the n_splits-row id range that
    # replicates the query side (IdentityBroadcastMode over _split);
    # the query VECTORS must reach the scorer through the _split shuffle
    import re as _re
    bc_vec = any('q_embedding' in seg.split('\n')[1]
                 for seg in _re.split(r'\(\d+\) BroadcastExchange', plan)[1:])
    bigq = 'FlatMapCoGroupsInPandas' in plan and not bc_vec
    print(f'[{"OK" if bigq else "FAIL"}] big-Q ADC: cogroup scorer, '
          f'query vectors shuffled (only the split-id range broadcasts)')
    ok &= bigq

    # As-of hot-key variant (r5): the running-last window partitions by
    # (key, __bkt) — the skewed key splits across tasks
    from geostructures_spark.operators.asof import asof_join
    left = spark.range(100).selectExpr("'k' AS k", 'CAST(id AS DOUBLE) AS ts',
                                       'id AS lid')
    right = spark.range(20).selectExpr("'k' AS k",
                                       'CAST(id * 5 AS DOUBLE) AS ts',
                                       'CAST(id AS DOUBLE) AS px')
    plan = formatted(asof_join(left, right, on='k', time_bucket_sec=10.0))
    hot = '__bkt' in plan and 'hashpartitioning' in plan
    print(f'[{"OK" if hot else "FAIL"}] asof hot-key: window partitioned '
          f'by (key, time bucket)')
    ok &= hot

    # Streaming minhash (r5): the per-doc signature is row-local (HOF
    # array_min) — exactly ONE aggregate pair in the plan (the bucket
    # groupBy's partial+final), no per-doc aggregation
    from geostructures_spark.streaming.dedup import minhash_bucket_groups
    docs = spark.range(50).selectExpr(
        'id AS doc_id', "repeat(concat('w', CAST(id % 7 AS STRING), ' '), 8)"
        ' AS text')
    plan = formatted(minhash_bucket_groups(docs))
    aggs = plan.count('HashAggregate')
    mh = aggs <= 4 and 'EvalPython' not in plan
    print(f'[{"OK" if mh else "FAIL"}] streaming minhash: row-local '
          f'signature, single aggregation pair, zero Python '
          f'({aggs} HashAggregate nodes)')
    ok &= mh

    spark.stop()
    return 0 if ok else 1


if __name__ == '__main__':
    sys.exit(main())
