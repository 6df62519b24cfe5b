"""Stupid-backoff LM scorer (operators/lm.py) vs hand-computed goldens,
the DuckDB replay (oracles/lm_sql.py), and the plan contract."""

import math

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geostructures_spark.operators.lm import (ALPHA, doc_tokens, lm_counts,
                                              perplexity_filter, score_docs)
from oracles.lm_sql import lm_score_duckdb

from tests.test_spark_operators import spark  # shared session fixture

__ = spark  # silence unused-import linters; pytest resolves by name


def _docs(spark, rows):
    return spark.createDataFrame(pd.DataFrame(
        {'doc_id': list(range(len(rows))), 'text': rows}))


def _py_score(corpus_tokens, doc, alpha=ALPHA):
    """Independent scalar replay of the published recipe."""
    uni, bi = {}, {}
    n = 0
    for toks in corpus_tokens:
        for i, w in enumerate(toks):
            uni[w] = uni.get(w, 0) + 1
            n += 1
            if i:
                bi[(toks[i - 1], w)] = bi.get((toks[i - 1], w), 0) + 1
    lp, hits = 0.0, 0
    for i, w in enumerate(doc):
        if i == 0:
            lp += math.log(uni[w] / n)
        elif (doc[i - 1], w) in bi:
            lp += math.log(bi[(doc[i - 1], w)] / uni[doc[i - 1]])
            hits += 1
        else:
            lp += math.log(alpha * uni[w] / n)
    return lp, hits


def test_counts_and_scores_match_scalar_replay(spark):
    texts = ['the cat sat on the mat',
             'the cat ate the rat',
             'a dog sat on a log',
             'the mat sat']
    toks = doc_tokens(_docs(spark, texts))
    uni, bi = lm_counts(toks)
    got = {r['w']: r['c1'] for r in uni.collect()}
    assert got['the'] == 5 and got['sat'] == 3 and got['cat'] == 2
    bg = {(r['w1'], r['w2']): r['c2'] for r in bi.collect()}
    assert bg[('the', 'cat')] == 2 and bg[('sat', 'on')] == 2

    corpus = [t.split() for t in texts]
    rows = {r['doc_id']: r for r in score_docs(toks, uni, bi).collect()}
    for i, doc in enumerate(corpus):
        lp, hits = _py_score(corpus, doc)
        assert rows[i]['n_tokens'] == len(doc)
        assert rows[i]['n_hits'] == hits
        assert rows[i]['logscore'] == pytest.approx(lp, rel=1e-12)
        assert rows[i]['ppl'] == pytest.approx(
            math.exp(-lp / len(doc)), rel=1e-12)


def test_empty_and_nonalpha_docs(spark):
    toks = doc_tokens(_docs(spark, ['', '123 456 !!', 'hello hello']))
    uni, bi = lm_counts(toks)
    rows = {r['doc_id']: r for r in score_docs(toks, uni, bi).collect()}
    for i in (0, 1):
        assert rows[i]['n_tokens'] == 0 and rows[i]['n_hits'] == 0
        assert rows[i]['logscore'] is None and rows[i]['ppl'] is None
    assert rows[2]['n_tokens'] == 2 and rows[2]['n_hits'] == 1


def test_repetitive_text_scores_better_than_gibberish(spark):
    # A quality filter must rank in-distribution text above one-off noise.
    texts = (['the quick brown fox jumps over the lazy dog'] * 5
             + ['zxqv wkjh pqrs zxqv mnbv'])
    toks = doc_tokens(_docs(spark, texts))
    uni, bi = lm_counts(toks)
    rows = {r['doc_id']: r['ppl'] for r in score_docs(toks, uni, bi).collect()}
    assert rows[0] < rows[5]


def test_perplexity_filter_threshold(spark):
    # The bad doc reuses in-vocabulary words in out-of-distribution order:
    # rare bigrams against common contexts score badly. (An all-singleton
    # gibberish doc would NOT — self-trained MLE gives its own bigrams
    # c2/c1 = 1 — which is why real pipelines train on a held-out corpus.)
    texts = ['the cat sat on the mat'] * 3 + ['mat the on sat cat the']
    docs = _docs(spark, texts)
    toks = doc_tokens(docs)
    uni, bi = lm_counts(toks)
    ppls = {r['doc_id']: r['ppl'] for r in score_docs(toks, uni, bi).collect()}
    cut = (max(p for i, p in ppls.items() if i < 3) + ppls[3]) / 2
    kept = perplexity_filter(docs, cut)
    assert sorted(r['doc_id'] for r in kept.collect()) == [0, 1, 2]
    with pytest.raises(ValueError):
        perplexity_filter(docs, float('nan'))


def test_duckdb_replay_parity(spark, tmp_path):
    texts = ['the cat sat on the mat', 'the cat ate', '', 'dog dog dog',
             'CAT! The m4t --- sat', 'on on on the the']
    pdf = pd.DataFrame({'doc_id': range(len(texts)), 'text': texts})
    pq = str(tmp_path / 'documents.parquet')
    pdf.to_parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS"
                f" SELECT * FROM read_parquet('{pq}')")
    duck = con.execute(lm_score_duckdb()).fetchdf()

    toks = doc_tokens(spark.createDataFrame(pdf))
    uni, bi = lm_counts(toks)
    got = (score_docs(toks, uni, bi)
           .select('doc_id', 'n_tokens', 'n_hits',
                   F.round('logscore', 6).alias('logscore'),
                   F.round('ppl', 6).alias('ppl'))
           .orderBy('doc_id').toPandas())
    for c in ('doc_id', 'n_tokens', 'n_hits'):
        assert got[c].astype('int64').tolist() == \
            duck[c].astype('int64').tolist(), c
    for c in ('logscore', 'ppl'):
        a, b = got[c].to_numpy(dtype=float), duck[c].to_numpy(dtype=float)
        for x, y in zip(a, b):
            assert (math.isnan(x) and math.isnan(y)) or x == y, c


def test_score_plan_broadcasts_and_has_no_window(spark):
    toks = doc_tokens(_docs(spark, ['a b c', 'b c d']))
    uni, bi = lm_counts(toks)
    plan = score_docs(toks, uni, bi)._jdf.queryExecution().executedPlan().toString()
    assert 'BroadcastHashJoin' in plan
    assert 'Window' not in plan
    assert 'SortMergeJoin' not in plan
