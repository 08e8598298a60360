"""The BM25 kernel (functions/bm25.py): one saturation expression that
gives bit-identical values as a Python float, a numpy array and a
Catalyst Column; bounds that dominate every posting they bound in
floating point; and block-max prunes that read the same function."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from elasticsearch_analysis_hashsplitter_spark.functions import bm25
from elasticsearch_analysis_hashsplitter_spark.functions.codec import (
    decode_counts,
)
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
    bm25_topk_batch,
)

from .test_spark_engine import TOKEN_CFG

K1, B, AVGDL = TOKEN_CFG.bm25_k1, TOKEN_CFG.bm25_b, 7.3


def test_norm_bit_identical_float_numpy_column(spark):
    rng = np.random.RandomState(11)
    tf = rng.randint(1, 60, size=2000)
    dl = rng.randint(0, 5000, size=2000)
    as_numpy = bm25.norm(tf, dl, K1, B, AVGDL)
    as_float = [bm25.norm(int(t), int(d), K1, B, AVGDL) for t, d in zip(tf, dl)]
    rows = (
        spark.createDataFrame(
            [(i, int(t), int(d)) for i, (t, d) in enumerate(zip(tf, dl))],
            "i long, tf long, dl long",
        )
        .select(
            "i",
            bm25.norm(
                F.col("tf").cast("double"), F.col("dl").cast("double"),
                K1, B, AVGDL,
            ).alias("n"),
        )
        .collect()
    )
    as_column = [r["n"] for r in sorted(rows, key=lambda r: r["i"])]
    assert as_float == as_numpy.tolist()
    assert as_column == as_numpy.tolist()


@pytest.fixture(scope="module")
def kernel_eng(spark):
    rng = np.random.RandomState(5)
    words = ["data", "code", "line", "file", "zephyr"]
    docs = [
        (i, " ".join(rng.choice(words, size=rng.randint(1, 30),
                                p=[0.4, 0.3, 0.15, 0.1, 0.05])))
        for i in range(200)
    ]
    df = spark.createDataFrame(docs, "doc_id long, content string")
    eng = SearchEngine.from_corpus(df, TOKEN_CFG, num_partitions=4,
                                   block_size=4)
    eng.disjunctive_exhaustive_cutoff = 0  # force the pruned paths
    return eng


def test_bound_dominates_every_posting(kernel_eng):
    eng = kernel_eng
    avgdl = eng.stats["avgdl"]
    n_docs = eng.stats["n_docs"]
    blocks = eng.postings.select(
        "term", "max_tf", "min_dl", "tfs", "dls",
        bm25.block_bound(K1, B, avgdl, True).alias("col_bound"),
    ).collect()
    terms = {r["term"]: r for r in eng._term_stats(
        sorted({b["term"] for b in blocks})
    )}
    for blk in blocks:
        tf = decode_counts(blk["tfs"])
        dl = decode_counts(blk["dls"])
        w = bm25.idf(n_docs, terms[blk["term"]]["df"])
        contrib = w * bm25.norm(tf, dl, K1, B, avgdl)
        block_ub = bm25.bound(blk["max_tf"], blk["min_dl"], K1, B, avgdl)
        lex = terms[blk["term"]]
        term_ub = bm25.bound(lex["max_tf"], lex["min_dl"], K1, B, avgdl)
        # the Catalyst block bound is the same number as the scalar one
        assert blk["col_bound"] == block_ub
        assert np.all(w * block_ub >= contrib), blk["term"]
        assert w * term_ub >= w * block_ub, blk["term"]
        # pre-min_dl indexes: the dl -> 0 limit bounds any posting
        assert np.all(
            w * bm25.bound(blk["max_tf"], None, K1, B, avgdl) >= contrib
        )


def test_block_max_prunes_read_the_kernel_bound(kernel_eng, monkeypatch):
    """The single-query block-max prune and the batch f_block threshold
    both build their Catalyst bound from ``bm25.block_bound`` — and the
    pruned answers stay identical to the exhaustive ones."""
    eng = kernel_eng
    calls = []
    orig = bm25.block_bound

    def spy(*args, **kwargs):
        calls.append(args)
        return orig(*args, **kwargs)

    monkeypatch.setattr(bm25, "block_bound", spy)

    terms = ["Azeph", "Adata", "Acode"]
    w_idf = {t: 1.0 for t in terms}
    ub = {t: 1.0 for t in terms}
    blocks = eng.postings.where(F.col("term").isin(terms))
    assert eng._block_max_prune(blocks, w_idf, ub, 1e9).count() == 0
    assert len(calls) == 1

    # a one-term query anchors on its own term: theta > 0 and no other
    # term's bound, so the batch prune pushes an f_block threshold
    qs = {"q": ["Azeph"]}
    pruned = bm25_topk_batch(eng, qs, k=2, conjunctive=False, prune=True)
    assert len(calls) == 2
    full = bm25_topk_batch(eng, qs, k=2, conjunctive=False, prune=False)

    def ranked(frame):
        rows = sorted(frame.collect(), key=lambda r: r["rank"])
        return [(r["doc_id"], r["score"]) for r in rows]

    assert ranked(pruned) == ranked(full)
