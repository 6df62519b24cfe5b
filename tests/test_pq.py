"""Product quantization (operators/pq.py) vs an independent NumPy
replay, plus plan and tie-break contracts."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geostructures_spark.operators.pq import (pq_adc_topk, pq_encode,
                                              pq_train, subvectors_df)

from tests.test_spark_operators import spark  # shared session fixture

__ = spark


def _vecs(spark, X):
    return spark.createDataFrame(pd.DataFrame(
        {'vec_id': range(len(X)), 'embedding': [list(map(float, r)) for r in X]}))


def _np_train_encode(X, m, ksub, n_iter):
    """Scalar replay: Lloyd per subspace, init = ksub lowest-id rows."""
    n, d = X.shape
    dsub = d // m
    Xs = X.reshape(n, m, dsub)
    books = [Xs[:ksub, s, :].copy() for s in range(m)]
    for _ in range(n_iter):
        for s in range(m):
            d2 = ((Xs[:, s, None, :] - books[s][None, :, :]) ** 2).sum(-1)
            a = d2.argmin(1)
            for j in range(ksub):
                if (a == j).any():
                    books[s][j] = Xs[a == j, s, :].mean(0)
    codes = np.stack(
        [((Xs[:, s, None, :] - books[s][None, :, :]) ** 2).sum(-1).argmin(1)
         for s in range(m)], axis=1)
    return books, codes


@pytest.fixture(scope='module')
def data():
    rng = np.random.RandomState(7)
    return rng.randn(60, 8).round(3)  # 60 vecs, dim 8 -> m=2 x dsub=4


def test_train_and_encode_match_numpy(spark, data):
    m, ksub, n_iter = 2, 4, 2
    vecs = _vecs(spark, data)
    books = pq_train(vecs, m=m, ksub=ksub, n_iter=n_iter)
    got_books = {(r['sub_id'], r['code_id']): np.array(r['c_embedding'])
                 for r in books.collect()}
    exp_books, exp_codes = _np_train_encode(data, m, ksub, n_iter)
    for s in range(m):
        for j in range(ksub):
            np.testing.assert_allclose(got_books[(s, j)], exp_books[s][j],
                                       rtol=1e-12)
    got_codes = {r['vec_id']: list(r['codes'])
                 for r in pq_encode(vecs, books).collect()}
    for i in range(len(data)):
        assert got_codes[i] == list(exp_codes[i]), i


def test_adc_topk_matches_numpy(spark, data):
    m, ksub = 2, 4
    vecs = _vecs(spark, data)
    books = pq_train(vecs, m=m, ksub=ksub, n_iter=1)
    enc = pq_encode(vecs, books)
    q_ids = [0, 7]
    queries = (vecs.where(F.col('vec_id').isin(q_ids))
               .select(F.col('vec_id').alias('query_id'),
                       F.col('embedding').alias('q_embedding')))
    got = pq_adc_topk(enc, books, queries, k=3).collect()

    exp_books, codes = _np_train_encode(data, m, ksub, 1)
    dsub = data.shape[1] // m
    for qid in q_ids:
        Qs = data[qid].reshape(m, dsub)
        lut = np.stack([((Qs[s] - exp_books[s]) ** 2).sum(-1)
                        for s in range(m)])
        d = lut[np.arange(m)[:, None], codes.T].sum(0)
        order = [i for i in np.lexsort((np.arange(len(d)), d)) if i != qid]
        rows = sorted([r for r in got if r['query_id'] == qid],
                      key=lambda r: r['rank'])
        assert [r['neighbor_id'] for r in rows] == order[:3]
        for r, i in zip(rows, order[:3]):
            assert r['adc_dist'] == pytest.approx(d[i], rel=1e-12)


def test_identical_vectors_share_codes_and_tie_by_id(spark):
    X = np.vstack([np.ones((3, 4)), np.zeros((2, 4)), [[9, 9, 9, 9]]])
    vecs = _vecs(spark, X)
    books = pq_train(vecs, m=2, ksub=2, n_iter=1)
    codes = {r['vec_id']: list(r['codes'])
             for r in pq_encode(vecs, books).collect()}
    assert codes[0] == codes[1] == codes[2]
    assert codes[3] == codes[4]
    q = (vecs.where(F.col('vec_id') == 5)
         .select(F.col('vec_id').alias('query_id'),
                 F.col('embedding').alias('q_embedding')))
    rows = (pq_adc_topk(pq_encode(vecs, books), books, q, k=5)
            .orderBy('rank').collect())
    # equal-code candidates rank by neighbor_id ascending
    by_code = {}
    for r in rows:
        by_code.setdefault(r['adc_dist'], []).append(r['neighbor_id'])
    for ids in by_code.values():
        assert ids == sorted(ids)


def test_adc_boundary_ties_keep_lowest_ids(spark):
    # Regression: argpartition is not tie-stable at the top-k cut — with
    # more equal-distance candidates than k+1 in one batch, the kernel
    # must still return the lowest neighbor ids (caught live at sf0.01).
    X = np.vstack([np.tile([1.0, 0.0, 1.0, 0.0], (12, 1)),
                   [[0.0, 1.0, 0.0, 1.0]]])
    vecs = _vecs(spark, X)
    books = pq_train(vecs, m=2, ksub=2, n_iter=1)
    q = (vecs.where(F.col('vec_id') == 12)
         .select(F.col('vec_id').alias('query_id'),
                 F.col('embedding').alias('q_embedding')))
    rows = (pq_adc_topk(pq_encode(vecs, books), books, q, k=4)
            .orderBy('rank').collect())
    assert [r['neighbor_id'] for r in rows] == [0, 1, 2, 3]


def test_dim_not_divisible_raises(spark, data):
    with pytest.raises(ValueError):
        pq_train(_vecs(spark, data), m=3, ksub=2)


def test_subvectors_and_encode_plans(spark, data):
    vecs = _vecs(spark, data)
    plan = (subvectors_df(vecs, 2, 4)
            ._jdf.queryExecution().executedPlan().toString())
    assert 'Exchange' not in plan
    books = pq_train(vecs, m=2, ksub=2, n_iter=1)
    enc_plan = (pq_encode(vecs, books)
                ._jdf.queryExecution().executedPlan().toString())
    assert 'Exchange' not in enc_plan


def test_ivfpq_recall_against_exact_adc(spark, data):
    """Probing ALL buckets must reproduce the exact ADC ranking; probing
    fewer returns a subset with the same relative order."""
    from geostructures_spark.operators.pq import ivfpq_topk
    from geostructures_spark.operators.simsearch import ivf_assign
    m, ksub = 2, 4
    vecs = _vecs(spark, data)
    books = pq_train(vecs, m=m, ksub=ksub, n_iter=1)
    enc = pq_encode(vecs, books)
    cents = (vecs.where(F.col('vec_id') < 3)
             .select(F.col('vec_id').alias('centroid_id'),
                     F.col('embedding').alias('c_embedding')))
    inv = ivf_assign(vecs, cents).select('vec_id', 'centroid_id')
    q = (vecs.where(F.col('vec_id') == 5)
         .select(F.col('vec_id').alias('query_id'),
                 F.col('embedding').alias('q_embedding')))
    exact = {r['neighbor_id']: r['adc_dist']
             for r in pq_adc_topk(enc, books, q, k=60).collect()}
    full = ivfpq_topk(enc, books, inv, cents, q, k=60, n_probe=3).collect()
    assert {r['neighbor_id'] for r in full} == set(exact)  # all buckets
    for r in full:
        assert r['adc_dist'] == exact[r['neighbor_id']]
    part = ivfpq_topk(enc, books, inv, cents, q, k=60, n_probe=1).collect()
    assert {r['neighbor_id'] for r in part} <= set(exact)
    ranks = [exact[r['neighbor_id']] for r in
             sorted(part, key=lambda r: r['rank'])]
    assert ranks == sorted(ranks)  # same relative order as exact


def test_adc_dist_col_missing_query_raises(spark, data):
    # Regression (r4 advice): a query_id absent from `queries` must raise,
    # not silently score against a neighboring query's LUT.
    from geostructures_spark.operators.pq import adc_dist_col
    vecs = _vecs(spark, data)
    books = pq_train(vecs, m=2, ksub=4, n_iter=1)
    enc = pq_encode(vecs, books)
    queries = (vecs.where(F.col('vec_id').isin([0, 7]))
               .select(F.col('vec_id').alias('query_id'),
                       F.col('embedding').alias('q_embedding')))
    rows = enc.select(F.lit(3).alias('query_id'), 'vec_id', 'codes')
    bad = rows.withColumn(
        'adc_dist', adc_dist_col(F.col('query_id'), F.col('codes'),
                                 books, queries))
    with pytest.raises(Exception, match='not present'):
        bad.collect()


def test_bigq_distributed_matches_broadcast(spark, data):
    # r5 task 3: the fragment-replicate big-Q path must produce exactly
    # the broadcast path's rows, for any split count. m=8 over dim 8 gives
    # dsub 1 and an 8-term distance sum, so a change in the order the two
    # paths add subspace distances shows up as a value mismatch.
    from geostructures_spark.operators.pq import pq_adc_topk_bigq
    m, ksub = 8, 16
    vecs = _vecs(spark, data)
    books = pq_train(vecs, m=m, ksub=ksub, n_iter=1)
    enc = pq_encode(vecs, books)
    queries = (vecs.where(F.col('vec_id').isin([0, 7, 23, 41]))
               .select(F.col('vec_id').alias('query_id'),
                       F.col('embedding').alias('q_embedding')))
    base = sorted([(r['query_id'], r['neighbor_id'], r['adc_dist'], r['rank'])
                   for r in pq_adc_topk(enc, books, queries, k=5,
                                        strategy='broadcast').collect()])
    for n_splits in (1, 3, 16):
        got = sorted([(r['query_id'], r['neighbor_id'], r['adc_dist'],
                       r['rank'])
                      for r in pq_adc_topk_bigq(enc, books, queries, k=5,
                                                n_splits=n_splits,
                                                q_block=3, cand_block=7)
                      .collect()])
        assert got == base, n_splits


def test_ivfpq_distributed_matches_broadcast(spark, data):
    # m=8 over dim 8: an 8-term distance sum, where NumPy's pairwise
    # ndarray.sum and the oracle's left fold differ in the last bit
    from geostructures_spark.operators.pq import ivfpq_topk
    from geostructures_spark.operators.simsearch import ivf_assign
    m, ksub = 8, 16
    vecs = _vecs(spark, data)
    books = pq_train(vecs, m=m, ksub=ksub, n_iter=1)
    enc = pq_encode(vecs, books)
    cents = (vecs.where(F.col('vec_id') < 3)
             .select(F.col('vec_id').alias('centroid_id'),
                     F.col('embedding').alias('c_embedding')))
    inv = ivf_assign(vecs, cents).select('vec_id', 'centroid_id')
    q = (vecs.where(F.col('vec_id').isin([5, 17]))
         .select(F.col('vec_id').alias('query_id'),
                 F.col('embedding').alias('q_embedding')))
    base = sorted([tuple(r) for r in
                   ivfpq_topk(enc, books, inv, cents, q, k=8, n_probe=2,
                              strategy='broadcast').collect()])
    got = sorted([tuple(r) for r in
                  ivfpq_topk(enc, books, inv, cents, q, k=8, n_probe=2,
                             strategy='distributed').collect()])
    assert got == base
    # the same (query, neighbor) distance as the full ADC scan
    full = {(r['query_id'], r['neighbor_id']): r['adc_dist'] for r in
            pq_adc_topk(enc, books, q, k=len(data), strategy='broadcast').collect()}
    assert base and all(d == full[(qid, nid)] for qid, nid, d, _ in base)


def test_adc_strategy_validation(spark, data):
    vecs = _vecs(spark, data)
    books = pq_train(vecs, m=2, ksub=4, n_iter=1)
    enc = pq_encode(vecs, books)
    q = (vecs.where(F.col('vec_id') == 0)
         .select(F.col('vec_id').alias('query_id'),
                 F.col('embedding').alias('q_embedding')))
    with pytest.raises(ValueError, match='strategy'):
        pq_adc_topk(enc, books, q, k=2, strategy='bogus')
