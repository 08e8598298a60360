"""Lucene BM25 weights: the one definition every scorer and explain
breakdown shares.

A posting's contribution is ``w_idf * norm(tf, dl)``, where ``w_idf`` is
the query-side weight (term repetitions x boost x :func:`idf`). ``norm``
is a single arithmetic expression, so the same code evaluates Python
floats, numpy arrays and Catalyst ``Column``s, with bit-identical
results (IEEE double ``+ - * /`` in the same order everywhere).
"""

from __future__ import annotations

import math


def idf(n_docs: int, df: int) -> float:
    """Lucene BM25 idf: ``ln(1 + (N - df + 0.5) / (df + 0.5))``."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def norm(tf, dl, k1: float, b: float, avgdl: float):
    """The BM25 saturation factor ``tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    of one posting (term frequency ``tf``, document length ``dl``)."""
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
