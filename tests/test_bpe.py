"""BPE train/encode tests (operators/bpe.py, oracles/bpe_sql.py).

The reference trainer here is an INDEPENDENT pure-Python BPE (Counter
over adjacent pairs, per-word tuple state) written to the published
Sennrich et al. 2016 procedure — not a refactor of the DataFrame form —
so agreement is evidence, not tautology. DuckDB replays the full SQL
oracle on a tiny synthesized documents table, closing the triangle
Spark == pure-Python == SQL.
"""

from collections import Counter

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geostructures_spark.operators.bpe import (EOW, bpe_encode, bpe_train,
                                               encode_word, merge_once,
                                               word_vocab, words_expr)
from geostructures_spark.operators.bpe import _apply_merge, _explode_symbols
from oracles.bpe_sql import bpe_encode_duckdb, bpe_train_duckdb
from tests.test_spark_operators import spark  # shared session fixture


# --- independent pure-Python reference --------------------------------------

def _ref_train(vocab: dict[str, int], n_merges: int):
    """Classic dict-of-tuples BPE trainer (Sennrich et al. 2016 fig. 1
    shape): count adjacent pairs weighted by word count, take the argmax
    with (count desc, left asc, right asc) tie-break, rewrite every word
    with a greedy-leftmost scan. Independent of the DataFrame/windows
    formulation under test."""
    state = {tuple(list(w) + [EOW]): c for w, c in vocab.items()}
    merges = []
    for r in range(n_merges):
        pairs: Counter = Counter()
        for syms, c in state.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((r, left, right, cnt))
        state = {tuple(merge_once(list(s), left, right)): c
                 for s, c in state.items()}
    return merges, state


# --- greedy-leftmost scan semantics ------------------------------------------

def test_merge_once_overlapping_runs():
    assert merge_once(list('aaa'), 'a', 'a') == ['aa', 'a']
    assert merge_once(list('aaaa'), 'a', 'a') == ['aa', 'aa']
    assert merge_once(list('aaaaa'), 'a', 'a') == ['aa', 'aa', 'a']
    assert merge_once(['ab', 'ab', 'ab'], 'ab', 'ab') == ['abab', 'ab']
    assert merge_once(list('xay'), 'a', 'a') == ['x', 'a', 'y']
    assert merge_once([], 'a', 'a') == []


def test_merge_once_eow_boundary():
    # a merge whose right symbol is the EOW marker
    assert merge_once(['t', EOW], 't', EOW) == ['t' + EOW]
    assert merge_once(['t', 't', EOW], 't', 't') == ['tt', EOW]


@pytest.mark.parametrize('word,left,right', [
    ('aaaaab', 'a', 'a'),
    ('banana', 'a', 'n'),
    ('banana', 'n', 'a'),
    ('mississippi', 's', 's'),
    ('t', 't', EOW),
    ('tttt', 't', 't'),
])
def test_apply_merge_matches_scalar_kernel(spark, word, left, right):
    """The gaps-and-islands DataFrame pass must equal the scalar
    greedy-leftmost scan on adversarial runs/overlaps."""
    vocab = spark.createDataFrame([(word, 1)], 'word string, wcount long')
    out = (_apply_merge(_explode_symbols(vocab), left, right)
           .orderBy('pos').select('sym').collect())
    assert [r.sym for r in out] == merge_once(list(word) + [EOW], left, right)


def test_apply_merge_only_touches_matching_words(spark):
    vocab = spark.createDataFrame([('aab', 2), ('xyz', 3)],
                                  'word string, wcount long')
    out = (_apply_merge(_explode_symbols(vocab), 'a', 'a')
           .groupBy('word').agg(F.sort_array(F.collect_list(
               F.struct('pos', 'sym'))).alias('s'))
           .collect())
    got = {r.word: [x.sym for x in r.s] for r in out}
    assert got == {'aab': ['aa', 'b', EOW], 'xyz': ['x', 'y', 'z', EOW]}


# --- training parity ----------------------------------------------------------

WORDS = {'low': 5, 'lower': 2, 'newest': 6, 'widest': 3, 'lowest': 4}


def test_bpe_train_matches_reference(spark):
    vocab = spark.createDataFrame(list(WORDS.items()),
                                  'word string, wcount long')
    merges, final = bpe_train(vocab, 6)
    ref_merges, ref_state = _ref_train(WORDS, 6)
    assert merges == ref_merges
    got = {r.word: [x.sym for x in r.s]
           for r in final.groupBy('word', 'wcount')
           .agg(F.sort_array(F.collect_list(F.struct('pos', 'sym')))
                .alias('s')).collect()}
    assert got == {''.join(s).replace(EOW, ''): list(s)
                   for s in ref_state}


def test_bpe_train_early_stop(spark):
    """min_count=2 stops once the best pair is a singleton."""
    vocab = spark.createDataFrame([('ab', 1), ('cd', 1)],
                                  'word string, wcount long')
    merges, _ = bpe_train(vocab, 10, min_count=2)
    assert merges == []


def test_encode_word_replays_training(spark):
    """Applying the learned table via encode_word must reproduce the
    trainer's final symbol state for every vocab word."""
    vocab = spark.createDataFrame(list(WORDS.items()),
                                  'word string, wcount long')
    merges, final = bpe_train(vocab, 8)
    rules = [(l, r) for _, l, r, _ in merges]
    got = {r.word: [x.sym for x in r.s]
           for r in final.groupBy('word')
           .agg(F.sort_array(F.collect_list(F.struct('pos', 'sym')))
                .alias('s')).collect()}
    for w in WORDS:
        assert encode_word(w, rules) == got[w]


# --- encode: semantics + plan shape ------------------------------------------

def _docs(spark):
    rows = [(0, 'the lowest low'), (1, 'newest widest lower'),
            (2, ''), (3, 'Low!  LOW? l0w')]
    return spark.createDataFrame(rows, 'doc_id long, text string')


def test_bpe_encode_end_to_end(spark):
    docs = _docs(spark)
    merges, _ = bpe_train(word_vocab(docs), 4)
    rules = [(l, r) for _, l, r, _ in merges]
    out = {r.doc_id: r for r in bpe_encode(
        docs.select('doc_id', words_expr(F.col('text')).alias('words')),
        rules).collect()}
    assert out[2].n_words == 0 and out[2].tokens == []
    # doc 3 normalizes to ['low', 'low', 'l', 'w'] (digits stripped)
    assert out[3].n_words == 4
    for d in (0, 1, 3):
        words = [w for w in ''.join(
            c if c.isalpha() or c == ' ' else ' '
            for c in _docs_text(d).lower()).split(' ') if w]
        want = [t for w in words for t in encode_word(w, rules)]
        assert out[d].tokens == want
        assert out[d].n_tokens == len(want)


def _docs_text(doc_id):
    return {0: 'the lowest low', 1: 'newest widest lower',
            3: 'Low!  LOW? l0w'}[doc_id]


def test_bpe_encode_zero_exchange(spark):
    """Scale contract: encode is scan -> project -> ArrowEval; the merge
    table rides the closure, so the corpus never shuffles."""
    docs = _docs(spark)
    enc = bpe_encode(
        docs.select('doc_id', words_expr(F.col('text')).alias('words')),
        [('l', 'o'), ('lo', 'w')])
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert 'Exchange' not in plan
    assert 'MapInPandas' in plan or 'ArrowEval' in plan


# --- SQL oracle triangle -------------------------------------------------------

def test_bpe_sql_oracle_matches_spark(spark, tmp_path):
    """Spark == DuckDB on a synthesized documents table, both train and
    encode — the same comparison the driver runs at sf0.01."""
    rows = [(i, t) for i, t in enumerate(
        ['the low lower lowest', 'newest newest widest', 'low low low',
         'wide wider widest ways', '', 'Mixed CASE 42 tokens!'])]
    pdf = pd.DataFrame(rows, columns=['doc_id', 'text'])
    docs = spark.createDataFrame(pdf)

    merges, _ = bpe_train(word_vocab(docs), 5)
    spark_train = [(r, l, rt, c) for r, l, rt, c in merges]
    enc = bpe_encode(
        docs.select('doc_id', words_expr(F.col('text')).alias('words')),
        [(l, r) for _, l, r, _ in merges])
    spark_enc = {r.doc_id: (r.n_words, r.n_tokens, ' '.join(r.tokens))
                 for r in enc.collect()}

    con = duckdb.connect()
    con.register('documents', pdf)
    duck_train = [(int(r), l, rt, int(c)) for r, l, rt, c in
                  con.execute(bpe_train_duckdb(5)).fetchall()]
    duck_enc = {d: (int(nw), int(nt), ts) for d, nw, nt, ts in
                con.execute(bpe_encode_duckdb(5)).fetchall()}
    assert spark_train == duck_train
    assert spark_enc == duck_enc
