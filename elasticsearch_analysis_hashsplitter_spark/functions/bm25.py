"""Lucene BM25 weights: the one definition every scorer, prune bound and
explain breakdown shares.

A posting's contribution is ``w_idf * norm(tf, dl)``, where ``w_idf`` is
the query-side weight (term repetitions x boost x :func:`idf`). ``norm``
is a single arithmetic expression, so the same code evaluates Python
floats, numpy arrays and Catalyst ``Column``s, with bit-identical
results (IEEE double ``+ - * /`` in the same order everywhere). A bound
and the contribution it bounds come from the same expression, so
``w_idf * bound >= w_idf * norm`` holds in floating point, not just up
to rounding: at tf = max_tf the two differ only in dl, through
operations that are each monotone, and a smaller integer tf lowers the
real value by far more than one rounding step.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def idf(n_docs: int, df: int) -> float:
    """Lucene BM25 idf: ``ln(1 + (N - df + 0.5) / (df + 0.5))``."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def norm(tf, dl, k1: float, b: float, avgdl: float):
    """The BM25 saturation factor ``tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    of one posting (term frequency ``tf``, document length ``dl``)."""
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bound(max_tf, min_dl, k1: float, b: float, avgdl: float) -> float:
    """Upper bound of :func:`norm` over postings with ``tf <= max_tf``
    and ``dl >= min_dl`` (a term's lexicon row or one block): ``norm``
    grows with tf and shrinks with dl. A missing ``max_tf`` counts as 1;
    a missing ``min_dl`` (indexes built before the column) takes the
    dl -> 0 limit."""
    return norm(max_tf or 1, 0.0 if min_dl is None else min_dl, k1, b, avgdl)


def block_bound(k1: float, b: float, avgdl: float,
                has_min_dl: bool) -> Column:
    """:func:`bound` of every posting-block row as a Catalyst expression
    over its ``max_tf``/``min_dl`` columns, so a block-max prune filters
    blocks before any decode. ``has_min_dl=False`` (indexes built
    before the column) takes the dl -> 0 limit."""
    min_dl = F.col("min_dl").cast("double") if has_min_dl else F.lit(0.0)
    return norm(F.col("max_tf").cast("double"), min_dl, k1, b, avgdl)
