"""BM25 scoring — one formula, two dialects (Spark column, Python), so
engine and oracle agree bit-for-bit in expression structure (the
SQL oracle in ``api.oracle_sql`` spells the same expression).

Reference parity: replaces the reference's candidate score = max bin of
a 100-bin time-offset histogram (``utils/_Shazam_.py:309-351``,
``count_number_match``) and its raw shared-key candidate count
(``searchLUT_v2``, ``utils/_Shazam_.py:494-506``). The "doc or Nil"
decision (``Matching.py:127``: ``num_matches > th``) maps to
``score > threshold``.

Determinism contract (SURVEY §7 hard part (a)): scores are computed
from exact integer stats (tf, df, doc_len, N) in a fixed expression
order — never from partially-summed floats — so rank identity holds
across partition counts and engines.

Formula (Lucene/ES flavor, k1=1.2 b=0.75 per FIXTURES.md §3):
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfnorm(t,d) = tf / (tf + k1 * (1 - b + b * dl / avgdl))
    score(q,d)  = sum over distinct q-terms present in d of idf * tfnorm
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def idf_py(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tfnorm_py(tf: int, doc_len: int, avgdl: float) -> float:
    return tf / (tf + K1 * (1.0 - B + B * doc_len / avgdl))


def score_py(tf: int, df: int, doc_len: int, n_docs: int, avgdl: float) -> float:
    """Per-(term, doc) BM25 contribution (oracle + tests)."""
    return idf_py(df, n_docs) * tfnorm_py(tf, doc_len, avgdl)


def idf_col(df_col: Column, n_docs: Column | int) -> Column:
    n = F.lit(n_docs) if isinstance(n_docs, (int, float)) else n_docs
    return F.log(F.lit(1.0) + (n - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def tfnorm_col(tf_col: Column, dl_col: Column, avgdl: Column | float) -> Column:
    a = F.lit(avgdl) if isinstance(avgdl, (int, float)) else avgdl
    return tf_col / (tf_col + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl_col / a))


def score_col(tf_col: Column, df_col: Column, dl_col: Column,
              n_docs: Column | int, avgdl: Column | float) -> Column:
    """Per-(term, doc) BM25 contribution as a pure JVM column expression
    — stays inside whole-stage codegen, no UDF."""
    return idf_col(df_col, n_docs) * tfnorm_col(tf_col, dl_col, avgdl)

