"""BM25 scoring as SQL expression text.

Exact semantics of the reference (``app/query.py:60,74-79``; SURVEY.md
section 4 BM25 box):

    idf(t)   = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    tf_norm  = tf*(k1+1) / (tf + k1*(1 - b + b*(dl/avg_dl)))
    score    = idf * tf_norm          (k1 = 1.2, b = 0.75)

The reference computes this in a per-row Python lambda over an RDD
(``query.py:65-83``); here it is one SQL expression inside the search
plan, so it stays inside whole-stage codegen -- no Python boundary in the
hot path.

Guards the reference lacks: ``avg_dl == 0`` (empty corpus) would divide by
zero in ``query.py:78``; we defend with a nullif -> coalesce to 0 score.
"""

from __future__ import annotations

K1 = 1.2
B = 0.75


def score_sql(tf: str, dl: str, avg_dl: str, n: str, df: str) -> str:
    """Spark SQL text of one (term, doc) BM25 contribution; the arguments
    are SQL expressions. Every operand is a DOUBLE -- a bare ``0.5`` is a
    DECIMAL literal in Spark SQL, which would move the arithmetic off
    IEEE doubles -- and the operations group as in the formula above."""
    tf, dl, avg_dl, n, df = (f"CAST({e} AS DOUBLE)" for e in (tf, dl, avg_dl, n, df))
    return (
        f"ln(1.0D + ({n} - {df} + 0.5D) / ({df} + 0.5D))"
        f" * coalesce({tf} * {K1 + 1.0!r}D / ({tf} + {K1!r}D * ({1.0 - B!r}D"
        f" + {B!r}D * {dl} / nullif({avg_dl}, 0.0D))), 0.0D)"
    )


# DuckDB twin of score_sql(), for the oracles only; {tf} {dl} {avg_dl} {n}
# {df} are SQL expressions. The coalesce mirrors the avg_dl==0 guard --
# without it Spark emits 0.0 scores on an empty-corpus stats row while the
# SQL twin propagates NULL (divergent engines where the module claims one
# guard).
SQL_SCORE = (
    "ln(1.0 + ({n} - {df} + 0.5) / ({df} + 0.5))"
    " * coalesce({tf} * (1.2 + 1.0)"
    "    / ({tf} + 1.2 * (1.0 - 0.75 + 0.75 * {dl} / nullif({avg_dl}, 0.0))), 0.0)"
)
