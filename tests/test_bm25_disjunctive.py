"""Disjunctive BM25 (MaxScore/block-max path) must be exactly the true
top-k: rank- and score-identical to the pure oracle's unpruned
evaluation, across corpora engineered so the pruning branches actually
trigger (strong rare terms, weak common terms)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

from .oracle import OracleIndex

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

RNG = np.random.RandomState(99)
COMMON = ["data", "code", "line", "file"]
RARE = ["zephyr", "quixotic"]


def _corpus():
    docs = {}
    for i in range(120):
        toks = list(RNG.choice(COMMON, size=RNG.randint(5, 30)))
        if i % 17 == 0:
            toks.append(RARE[0])
        if i % 29 == 0:
            toks.append(RARE[1])
        docs[i] = " ".join(toks)
    docs[120] = "zephyr quixotic zephyr"   # both rare terms, tiny doc
    docs[121] = " ".join(["data"] * 200)   # huge common-only doc
    return docs


@pytest.fixture(scope="module")
def setup(spark):
    docs = _corpus()
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, content string"
    )
    eng = SearchEngine.from_corpus(df, CFG, num_partitions=4)
    eng.disjunctive_exhaustive_cutoff = 0  # force the pruned two-phase path
    orc = OracleIndex(docs, CFG)
    return eng, orc


@pytest.mark.parametrize(
    "query,k",
    [
        ("zephyr data", 5),          # rare + common: S-set pruning fires
        ("zephyr quixotic data", 5),
        ("data code", 10),           # all common
        ("zephyr missingterm", 5),   # absent term in the bag
        ("quixotic", 3),             # single term
    ],
)
def test_disjunctive_rank_identity(setup, query, k):
    eng, orc = setup
    terms = list(qc.field_query(query, CFG).terms)
    expected = orc.bm25_topk(terms, k=k, conjunctive=False)
    got = [
        (r["doc_id"], r["score"])
        for r in eng.bm25_topk_disjunctive(terms, k=k).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected], query
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-9), (query, gd)


def test_search_any_api(setup):
    eng, orc = setup
    got = [r["doc_id"] for r in eng.search_any("zephyr data", k=5).collect()]
    terms = list(qc.field_query("zephyr data", CFG).terms)
    exp = [d for d, _ in orc.bm25_topk(terms, k=5, conjunctive=False)]
    assert got == exp


def test_small_k_triggers_pruning_correctly(setup):
    # k=1: theta is high after bootstrap, S-set should swallow everything
    eng, orc = setup
    terms = list(qc.field_query("quixotic data code", CFG).terms)
    expected = orc.bm25_topk(terms, k=1, conjunctive=False)
    got = [
        (r["doc_id"], r["score"])
        for r in eng.bm25_topk_disjunctive(terms, k=1).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]


# ---------------------------------------------------------------------------
# regression: narrow disjoint block ranges (block_size=1) must stay exact.
# With essential-only overlap ranges, a doc holding the strongest term plus
# a non-essential term but NO essential term lost its non-essential
# contributions and was mis-ranked (advisor repro, r2).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def narrow_setup(spark):
    docs = _corpus()
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, content string"
    )
    eng = SearchEngine.from_corpus(df, CFG, num_partitions=4, block_size=1)
    eng.disjunctive_exhaustive_cutoff = 0  # force the pruned two-phase path
    orc = OracleIndex(docs, CFG)
    return eng, orc


@pytest.mark.parametrize(
    "query,k",
    [
        ("zephyr data", 5),
        ("zephyr quixotic data", 5),
        ("quixotic data code", 3),
        ("zephyr code file data", 7),
    ],
)
def test_disjunctive_exact_with_narrow_blocks(narrow_setup, query, k):
    eng, orc = narrow_setup
    terms = list(qc.field_query(query, CFG).terms)
    expected = orc.bm25_topk(terms, k=k, conjunctive=False)
    got = [
        (r["doc_id"], r["score"])
        for r in eng.bm25_topk_disjunctive(terms, k=k).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected], query
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-9), (query, gd)


def test_disjunctive_strongest_plus_nonessential_doc(spark):
    """Hand-built shape from the advisor repro: the true top-1 holds the
    strongest term and a (would-be) non-essential term but no essential
    term; narrow blocks make the old essential-only range prune drop its
    non-essential contribution."""
    docs = {
        1: "zzzz cccc",            # strongest + weak term only
        2: "zzzz bbbb",
        3: "bbbb cccc",
        5: "cccc",
        6: "cccc",
        7: "bbbb cccc cccc",
    }
    # pad with common-term docs so idfs separate
    for i in range(10, 40):
        docs[i] = "cccc" if i % 2 else "bbbb cccc"
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, content string"
    )
    eng = SearchEngine.from_corpus(df, CFG, num_partitions=4, block_size=1)
    orc = OracleIndex(docs, CFG)
    terms = list(qc.field_query("zzzz bbbb cccc", CFG).terms)
    for k in (1, 2, 3, 5):
        expected = orc.bm25_topk(terms, k=k, conjunctive=False)
        got = [
            (r["doc_id"], r["score"])
            for r in eng.bm25_topk_disjunctive(terms, k=k).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in expected], k
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-9), (k, gd)


def test_block_max_prune_fires_and_stays_exact(narrow_setup):
    """The block-granular MaxScore filter actually removes blocks on a
    narrow-block index (block_size=1: every posting its own block) while
    the returned top-k stays exact (covered by the identity tests; this
    one proves the prune isn't a no-op)."""
    eng, orc = narrow_setup
    terms = list(qc.field_query("zephyr data", CFG).terms)
    # reproduce the internal setup: theta from the bootstrap
    boot = eng.bm25_topk(terms, 5, conjunctive=False, _anchor=None)
    # run the full disjunctive path first (exactness asserted elsewhere)
    got = eng.bm25_topk_disjunctive(terms, k=5)
    assert got.count() == 5

    # directly: with a high theta every block prunes, with theta<=0 none
    lex = eng._term_stats(sorted(set(terms)))
    info = {r["term"]: (r["df"], r["max_tf"], r["min_dl"]) for r in lex}
    import math as m

    n_docs = eng.stats["n_docs"]
    k1, b = eng.cfg.bm25_k1, eng.cfg.bm25_b
    avgdl = eng.stats["avgdl"] or 1.0

    def ub(t):
        df, mtf, mdl = info[t]
        idf = m.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        return idf * mtf * (k1 + 1.0) / (
            mtf + k1 * (1.0 - b + b * mdl / avgdl)
        )

    present = [t for t in sorted(set(terms)) if t in info]
    w_idf = {
        t: m.log(1.0 + (n_docs - info[t][0] + 0.5) / (info[t][0] + 0.5))
        for t in present
    }
    ubs = {t: ub(t) for t in present}
    blocks = eng.postings.where(F.col("term").isin(present))
    n_all = blocks.count()
    kept_low = eng._block_max_prune(blocks, w_idf, ubs, 1e-9).count()
    kept_high = eng._block_max_prune(blocks, w_idf, ubs, 1e9).count()
    assert kept_low == n_all          # tiny theta keeps everything
    assert kept_high == 0             # impossible theta prunes everything
    # a theta between the weakest and strongest block bound prunes SOME
    per_block_tot = [
        ub(t) + sum(ub(x) for x in present if x != t) for t in present
    ]
    mid = sorted(per_block_tot)[len(per_block_tot) // 2]
    kept_mid = eng._block_max_prune(blocks, w_idf, ubs, mid * 0.999).count()
    assert 0 < kept_mid <= n_all


def test_pre_min_dl_index_still_exact(spark):
    """Back-compat: an index whose postings/lexicon lack the min_dl
    column (r1 layout) must still answer conjunctive AND disjunctive
    queries exactly — bounds fall back to the dl->0 limit and the block
    prune disables itself."""
    docs = _corpus()
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, content string"
    )
    eng = SearchEngine.from_corpus(df, CFG, num_partitions=4, block_size=1)
    eng.postings = eng.postings.drop("min_dl")
    eng._term_stats_cache.clear()
    orc = OracleIndex(docs, CFG)
    for query, k in [("zephyr data", 5), ("zephyr quixotic data", 5)]:
        terms = list(qc.field_query(query, CFG).terms)
        expected = orc.bm25_topk(terms, k=k, conjunctive=False)
        got = [
            (r["doc_id"], r["score"])
            for r in eng.bm25_topk_disjunctive(terms, k=k).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in expected], query
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-9), (query, gd)
        conj = [
            (r["doc_id"], r["score"])
            for r in eng.bm25_topk(terms, k=k).collect()
        ]
        exp_conj = orc.bm25_topk(terms, k=k, conjunctive=True)
        assert [d for d, _ in conj] == [d for d, _ in exp_conj], query
