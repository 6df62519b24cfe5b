"""DuckDB SQL replay of the BPE train/encode pipeline (operators/bpe.py).

Same oracle architecture as oracles/h3_sql.py and the unrolled-iteration
vincenty SQL: the iterative algorithm is unrolled into one CTE block per
merge round, so DuckDB independently recomputes the pair counts, the
argmax merge rule, and the greedy-leftmost merge application
(gaps-and-islands windows) for every round. Nothing is fed from the
Spark side — the oracle re-derives the merge table from the raw corpus.

Symbol-table columns: (word, wcount, pos, sym, nxt) for training;
(doc_id, wpos, pos, sym, nxt) for encoding. Tie-breaks everywhere are
(pair_count DESC, left_sym ASC, right_sym ASC) over pure-ASCII symbols,
so binary collation agrees between engines.

Every chain CTE is declared MATERIALIZED: DuckDB otherwise inlines a
CTE at each reference site, and because round r+1 references both e{r}
and b{r} (and the final SELECT references every b{r} again), inlining
re-derives the whole prefix chain per round — quadratic in n_merges
(measured 85 s -> 0.9 s at 8 merges, sf0.01).
"""

from __future__ import annotations

__all__ = ['WORDS_FROM_DOCUMENTS', 'bpe_train_duckdb', 'bpe_encode_duckdb']

#: (doc_id, wpos, word) occurrences from the documents table — must stay
#: expression-for-expression parallel to operators/bpe.py words_expr
#: (lower -> strip non-[a-z ] -> split ' ' -> drop empties).
WORDS_FROM_DOCUMENTS = """
  dwords AS MATERIALIZED (
    SELECT doc_id, CAST(i AS INT) AS wpos, ws[CAST(i AS INT)] AS word
    FROM (SELECT doc_id,
                 string_split(regexp_replace(lower(substr(text, 1, 150)),
                                             '[^a-z ]', ' ', 'g'), ' ') AS ws
          FROM documents),
         UNNEST(range(1, len(ws) + 1)) AS r(i)
    WHERE ws[CAST(i AS INT)] <> '')
"""


def _explode_cte(src: str, keys: str, out: str) -> str:
    """Split each word of ``src`` into chars + '</w>', keyed by ``keys``."""
    return f"""
  {out}_sym AS (
    SELECT {keys}, CAST(i AS INT) - 1 AS pos,
           list_append(string_split(word, ''), '</w>')[CAST(i AS INT)] AS sym
    FROM {src}, UNNEST(range(1, len(word) + 2)) AS r(i)),
  {out} AS MATERIALIZED (
    SELECT *, lead(sym) OVER (PARTITION BY {keys} ORDER BY pos) AS nxt
    FROM {out}_sym)"""


def _best_cte(r: int, chain: str) -> str:
    """Argmax pair of round ``r`` from the training chain."""
    return f"""
  b{r} AS MATERIALIZED (
    SELECT sym AS l, nxt AS rr, sum(wcount) AS c
    FROM {chain}{r} WHERE nxt IS NOT NULL
    GROUP BY 1, 2 ORDER BY c DESC, l, rr LIMIT 1)"""


def _merge_ctes(r: int, chain: str, keys: str, carry: str) -> str:
    """Apply merge b{r} to ``chain``{r} -> ``chain``{r+1} (greedy-leftmost).

    ``carry`` lists the non-key payload columns to thread through
    (e.g. 'wcount' for training, '' for encoding). Island logic: a run
    of consecutive matches merges its members at even offset from the
    run start — identical to operators/bpe.py _apply_merge.
    """
    carry_sel = f'{carry}, ' if carry else ''
    part = f'PARTITION BY {keys} ORDER BY pos'
    return f"""
  m{chain}{r} AS (
    SELECT e.*, coalesce(e.sym = b.l AND e.nxt = b.rr, FALSE) AS mt
    FROM {chain}{r} e CROSS JOIN b{r} b),
  a{chain}{r} AS (
    SELECT *, coalesce(lag(mt) OVER ({part}), FALSE) AS lagm
    FROM m{chain}{r}),
  i{chain}{r} AS (
    SELECT *, last_value(CASE WHEN mt AND NOT lagm THEN pos END IGNORE NULLS)
              OVER ({part} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS isl_start
    FROM a{chain}{r}),
  g{chain}{r} AS (
    SELECT *, coalesce(mt AND (pos - isl_start) % 2 = 0, FALSE) AS mg
    FROM i{chain}{r}),
  s{chain}{r} AS (
    SELECT *, coalesce(lag(mg) OVER ({part}), FALSE) AS sk
    FROM g{chain}{r}),
  o{chain}{r} AS (
    SELECT {keys}, {carry_sel}pos,
           CASE WHEN mg THEN sym || nxt ELSE sym END AS sym
    FROM s{chain}{r} WHERE NOT sk),
  {chain}{r + 1} AS MATERIALIZED (
    SELECT {keys}, {carry_sel}
           CAST(row_number() OVER ({part}) AS INT) - 1 AS pos, sym,
           lead(sym) OVER ({part}) AS nxt
    FROM o{chain}{r})"""


def _train_chain(n_merges: int) -> list[str]:
    ctes = [WORDS_FROM_DOCUMENTS.strip(),
            'vocab AS MATERIALIZED (SELECT word, count(*) AS wcount'
            ' FROM dwords GROUP BY word)',
            _explode_cte('vocab', 'word, wcount', 'e0').strip()]
    for r in range(n_merges):
        ctes.append(_best_cte(r, 'e').strip())
        ctes.append(_merge_ctes(r, 'e', 'word', 'wcount').strip())
    return ctes


def bpe_train_duckdb(n_merges: int) -> str:
    """SQL for the merge table: (merge_round, left_sym, right_sym, pair_count)."""
    ctes = _train_chain(n_merges)
    rows = '\n  UNION ALL '.join(
        f'SELECT {r} AS merge_round, l AS left_sym, rr AS right_sym,'
        f' CAST(c AS BIGINT) AS pair_count FROM b{r}'
        for r in range(n_merges))
    return f"WITH {', '.join(ctes)}\n  {rows}\n  ORDER BY merge_round"


def bpe_encode_duckdb(n_merges: int) -> str:
    """SQL for per-doc tokenization with the round-replayed merge table:
    (doc_id, n_words, n_tokens, tokens_str)."""
    ctes = _train_chain(n_merges)
    ctes.append(_explode_cte('dwords', 'doc_id, wpos', 'f0').strip())
    for r in range(n_merges):
        ctes.append(_merge_ctes(r, 'f', 'doc_id, wpos', '').strip())
    ctes.append(f"""
  enc AS (
    SELECT doc_id, count(DISTINCT wpos) AS n_words, count(*) AS n_tokens,
           string_agg(sym, ' ' ORDER BY wpos, pos) AS tokens_str
    FROM f{n_merges} GROUP BY doc_id)""".strip())
    return (f"WITH {', '.join(ctes)}\n"
            '  SELECT d.doc_id, coalesce(e.n_words, 0) AS n_words,\n'
            '         coalesce(e.n_tokens, 0) AS n_tokens,\n'
            "         coalesce(e.tokens_str, '') AS tokens_str\n"
            '  FROM documents d LEFT JOIN enc e USING (doc_id)\n'
            '  ORDER BY d.doc_id')
