"""DuckDB SQL replay of the stupid-backoff LM scorer (operators/lm.py).

Re-derives the unigram/bigram count tables AND the per-document scores
from the raw documents table — nothing is fed from the Spark side. The
tokenization CTE is bpe_sql.WORDS_FROM_DOCUMENTS so every text operator
family shares one normalization definition on both engines.

Chain CTEs are MATERIALIZED for the same reason as bpe_sql: uni/bi/toks
are each referenced several times and DuckDB would otherwise inline
(re-derive) them per reference.

Arithmetic is kept operation-for-operation parallel to score_docs:
ln(c1/N), ln(c2/c1_prev), ln((alpha*c1)/N), all in doubles, rounded to
6 dp only in the final projection.
"""

from __future__ import annotations

from oracles.bpe_sql import WORDS_FROM_DOCUMENTS

__all__ = ['lm_score_duckdb']


def lm_score_duckdb(alpha: float = 0.4) -> str:
    """(doc_id, n_tokens, n_hits, logscore, ppl) — rounded to 6 dp."""
    return f"""
WITH {WORDS_FROM_DOCUMENTS.strip()},
  toks AS MATERIALIZED (
    SELECT doc_id, wpos, word,
           lag(word) OVER (PARTITION BY doc_id ORDER BY wpos) AS wp,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos) AS INT)
             - 1 AS tpos
    FROM dwords),
  uni AS MATERIALIZED (
    SELECT word AS w, count(*) AS c1 FROM dwords GROUP BY 1),
  bi AS MATERIALIZED (
    SELECT wp AS w1, word AS w2, count(*) AS c2
    FROM toks WHERE wp IS NOT NULL GROUP BY 1, 2),
  tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),
  sc AS (
    SELECT t.doc_id,
           CASE WHEN t.tpos = 0 THEN ln(u.c1 / tot.n)
                WHEN b.c2 IS NOT NULL THEN ln(b.c2 / CAST(up.c1 AS DOUBLE))
                ELSE ln(({alpha!r}e0 * u.c1) / tot.n) END AS lp,
           CASE WHEN t.tpos > 0 AND b.c2 IS NOT NULL
                THEN 1 ELSE 0 END AS hit
    FROM toks t
    CROSS JOIN tot
    JOIN uni u ON u.w = t.word
    LEFT JOIN uni up ON up.w = t.wp
    LEFT JOIN bi b ON b.w1 = t.wp AND b.w2 = t.word),
  agg AS (
    SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(hit) AS BIGINT) AS n_hits, sum(lp) AS logscore
    FROM sc GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0) AS n_tokens,
       coalesce(a.n_hits, 0) AS n_hits,
       round(a.logscore, 6) AS logscore,
       round(exp((-a.logscore) / a.n_tokens), 6) AS ppl
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id"""
