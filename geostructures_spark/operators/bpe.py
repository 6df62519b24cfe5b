"""Distributed BPE subword tokenizer: train + encode.

The byte-pair-encoding family every large-scale training-data pipeline
needs next to token counting (textstats.py gives BPE-ish regex counts;
this module learns and applies a real merge table). No reference
counterpart — geostructures is a geometry library; the algorithm is the
published Sennrich et al. 2016 procedure (word-vocabulary BPE with an
end-of-word marker).

Scale shape (10^12 docs):

- ``word_vocab`` is the ONLY full-corpus pass: one map-side-combined
  groupBy(word). Everything downstream runs over the vocabulary, which
  is heavy-tailed and tiny relative to the corpus (~10^6-10^7 distinct
  words for web text).
- ``bpe_train`` keeps the vocabulary EXPLODED as (word, wcount, pos,
  sym, nxt) across rounds so each merge round is exactly one
  hash-partition-by-word window pass + one map-side-combined pair
  count; ``localCheckpoint`` per round truncates the lineage (same
  pattern as simsearch.kmeans_train). The per-round argmax collects ONE
  row — the merge rule itself, which is the model being trained and is
  inherently a driver-side artifact.
- ``bpe_encode`` never shuffles the corpus at all: the merge table
  (n_merges rows) ships in the UDF closure, and a mapInPandas kernel
  encodes each DISTINCT word once per batch (memoized across batches
  per worker), so the per-document cost is a dict lookup. The plan is
  scan -> project -> ArrowEval — zero Exchange (plan-asserted in
  tests).

Greedy-leftmost semantics: applying merge r means one left-to-right
scan replacing non-overlapping (left, right) symbol pairs — the first
pair of a run wins ("a a a" -> ["aa", "a"]). A pair produced by merge r
can only ever be consumed by a LATER merge (its right/left symbol does
not exist before round r), so applying the table in training order is
exactly the classic lowest-rank-first encoder. The DataFrame form
computes the scan with a gaps-and-islands window (island = maximal run
of consecutive matches; merge the odd-ranked members), which both
Spark and the DuckDB oracle (oracles/bpe_sql.py) express identically.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ['EOW', 'words_expr', 'word_vocab', 'bpe_train', 'bpe_encode',
           'encode_word', 'merge_once']

#: end-of-word marker appended to every word's symbol list. Must not
#: collide with any character that survives corpus normalization
#: (words_expr keeps [a-z] only, so '<', '/', '>' are safe).
EOW = '</w>'


def words_expr(text_col, max_chars: int = 150):
    """array<string> of normalized words for a text column.

    lower -> strip non-[a-z ] -> split on ' '. Empty strings from
    repeated spaces are NOT filtered here (explode sites filter them) —
    keeping the expression minimal keeps it bit-identical to the SQL
    oracle's string_split(regexp_replace(lower(substr(...)))).
    """
    return F.split(
        F.regexp_replace(F.lower(F.substring(text_col, 1, max_chars)),
                         '[^a-z ]', ' '), ' ')


def word_vocab(docs: DataFrame, text_col: str = 'text',
               max_chars: int = 150) -> DataFrame:
    """(word, wcount) corpus vocabulary — the one full-corpus shuffle."""
    return (docs
            .select(F.explode(words_expr(F.col(text_col), max_chars))
                    .alias('word'))
            .where(F.col('word') != '')
            .groupBy('word')
            .agg(F.count('*').alias('wcount')))


def _explode_symbols(vocab: DataFrame) -> DataFrame:
    """vocab -> (word, wcount, pos, sym, nxt): chars + EOW, exploded."""
    syms = F.concat(F.split('word', ''), F.array(F.lit(EOW)))
    w = Window.partitionBy('word').orderBy('pos')
    return (vocab
            .select('word', 'wcount', F.posexplode(syms).alias('pos', 'sym'))
            .withColumn('nxt', F.lead('sym').over(w)))


def _apply_merge(ex: DataFrame, left: str, right: str) -> DataFrame:
    """One greedy-leftmost merge pass over the exploded symbol table.

    Gaps-and-islands: match = (sym, nxt) == (left, right); an island is
    a maximal run of consecutive matched positions; greedy-leftmost
    merges exactly the island members at even offset from the island
    start (1st, 3rd, ... — a merge consumes its right neighbor, which
    blocks the next overlapping match). Every window below shares the
    same (word, pos) partitioning, so a round costs ONE Exchange.
    """
    w = Window.partitionBy('word').orderBy('pos')
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m = ex.withColumn(
        'match',
        F.coalesce((F.col('sym') == left) & (F.col('nxt') == right),
                   F.lit(False)))
    lagm = F.coalesce(F.lag('match').over(w), F.lit(False))
    m = m.withColumn(
        'isl_start',
        F.last(F.when(F.col('match') & ~lagm, F.col('pos')),
               ignorenulls=True).over(cum))
    m = m.withColumn(
        'merged',
        F.coalesce(F.col('match')
                   & ((F.col('pos') - F.col('isl_start')) % 2 == 0),
                   F.lit(False)))
    m = m.withColumn('skip',
                     F.coalesce(F.lag('merged').over(w), F.lit(False)))
    out = (m.where(~F.col('skip'))
           .select('word', 'wcount', 'pos',
                   F.when(F.col('merged'), F.concat('sym', 'nxt'))
                   .otherwise(F.col('sym')).alias('sym')))
    return (out
            .withColumn('pos', F.row_number().over(w) - F.lit(1))
            .withColumn('nxt', F.lead('sym').over(w)))


def bpe_train(vocab: DataFrame, n_merges: int, min_count: int = 1,
              n_partitions: int = None) -> tuple[list[tuple], DataFrame]:
    """Learn ``n_merges`` BPE merges over a (word, wcount) vocabulary.

    Returns (merges, final_symbols): merges is a list of
    (merge_round, left_sym, right_sym, pair_count) — the trained model,
    a driver-side artifact by definition — and final_symbols is the
    exploded (word, wcount, pos, sym) table after all merges (useful
    for tests and for seeding an encoder cache).

    Stops early when no pair reaches ``min_count`` (classic BPE stops
    below 2; default 1 trains the full budget for determinism).

    ``n_partitions`` bounds the symbols table's partitioning for the
    whole merge loop. The table is DISTINCT words x symbols — bounded
    (~10^7 rows for any real corpus, regardless of corpus size), so a
    vocabulary-sized width beats inheriting a corpus-sized one: every
    merge round is two driver-scheduled jobs over this table, and task
    count is the dominant per-round cost once the data is this small.
    """
    # r6 representation: each word's symbol list is ONE space-padded string
    # (' h e l l o </w> '). A merge round is then a single regexp_replace
    # projection — Java regex replacement is left-to-right over
    # non-overlapping matches, which IS greedy-leftmost ('a a a' matches
    # once and leaves ' aa a '), so the merge pass needs NO shuffle and NO
    # window sort (the old exploded-table form paid one exchange + four
    # window passes per round; measured ~2x rounds/sec on the bench
    # vocabulary). Pair counts re-derive per round by exploding adjacent
    # symbol pairs — the same (sym, nxt, sum wcount) aggregation as
    # before, so the learned merges (argmax + tie-break) are identical;
    # _apply_merge/_explode_symbols remain as the tested equivalence
    # witnesses of the island-merge semantics.
    syms = F.concat(F.split('word', ''), F.array(F.lit(EOW)))
    st = vocab.select(
        'word', 'wcount',
        F.concat(F.lit(' '), F.concat_ws(' ', syms), F.lit(' ')).alias('s'))
    if n_partitions:
        st = st.repartition(n_partitions)
    # EAGER checkpoint (two jobs per round) is deliberate: a lazy
    # localCheckpoint only truncates lineage for actions invoked on
    # the returned Dataset itself — DataFrames DERIVED from it keep
    # the full logical plan, so the merge chain grows quadratically
    # (measured 4x slower by round 6 when this was briefly lazy).
    st = st.localCheckpoint(eager=True)
    merges: list[tuple] = []
    for r in range(n_merges):
        toks = F.split(F.trim('s'), ' ')
        base = st.select('wcount', toks.alias('_t'))
        pos = F.explode(
            F.when(F.size('_t') >= 2, F.sequence(F.lit(0), F.size('_t') - 2))
            .otherwise(F.array().cast('array<int>')))
        pairs = (base.select('wcount', '_t', pos.alias('_j'))
                 .select('wcount',
                         F.element_at('_t', F.col('_j') + 1).alias('sym'),
                         F.element_at('_t', F.col('_j') + 2).alias('nxt')))
        top = (pairs.groupBy('sym', 'nxt')
               .agg(F.sum('wcount').alias('pair_count'))
               .orderBy(F.desc('pair_count'), 'sym', 'nxt')
               .limit(1).collect())
        if not top or top[0]['pair_count'] < min_count:
            break
        left, right, cnt = top[0]['sym'], top[0]['nxt'], int(top[0]['pair_count'])
        merges.append((r, left, right, cnt))
        # \Q...\E quoting: symbols only ever contain [a-z] and '</w>', so
        # no quoting terminator can appear inside a symbol
        pat = f'(?<= )\\Q{left}\\E \\Q{right}\\E(?= )'
        st = (st.select('word', 'wcount',
                        F.regexp_replace('s', pat, left + right).alias('s'))
              .localCheckpoint(eager=True))
    final = st.select(
        'word', 'wcount',
        F.posexplode(F.split(F.trim('s'), ' ')).alias('pos', 'sym'))
    return merges, final


def merge_once(syms: list[str], left: str, right: str) -> list[str]:
    """Greedy-leftmost single-merge scan (the Python kernel's inner step)."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def encode_word(word: str, merges: Sequence[tuple[str, str]],
                eow: str = EOW) -> list[str]:
    """Apply a trained merge table to one word (training-order replay)."""
    syms = list(word) + [eow]
    for left, right in merges:
        if len(syms) < 2:
            break
        syms = merge_once(syms, left, right)
    return syms


def bpe_encode(docs: DataFrame, merges: Sequence[tuple[str, str]],
               id_col: str = 'doc_id', words_col: str = 'words') -> DataFrame:
    """Tokenize documents with a trained merge table — zero shuffles.

    ``docs`` must carry ``words_col: array<string>`` (build it JVM-side
    with ``words_expr`` so tokenization parity with any SQL oracle is
    the engine's, not Python's). The merge table rides the closure
    (n_merges rows — KBs); each worker memoizes encodings per DISTINCT
    word across its batches, so a 10^12-doc corpus pays the BPE scan
    once per word per worker, not once per occurrence.

    Returns (id_col, n_words, n_tokens, tokens array<string>).
    """
    rules = [(left, right) for left, right in merges]
    out_schema = (f'{id_col} long, n_words long, n_tokens long, '
                  'tokens array<string>')

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc(word: str) -> list[str]:
            got = cache.get(word)
            if got is None:
                got = cache[word] = encode_word(word, rules)
            return got

        for pdf in batches:
            ids, n_words, n_tokens, toks = [], [], [], []
            for doc_id, words in zip(pdf[id_col], pdf[words_col]):
                ws = [w for w in words if w]
                doc_toks: list[str] = []
                for w in ws:
                    doc_toks.extend(enc(w))
                ids.append(doc_id)
                n_words.append(len(ws))
                n_tokens.append(len(doc_toks))
                toks.append(doc_toks)
            yield pd.DataFrame({id_col: ids, 'n_words': n_words,
                                'n_tokens': n_tokens, 'tokens': toks})

    return (docs.select(id_col, words_col)
            .mapInPandas(_encode, schema=out_schema))
