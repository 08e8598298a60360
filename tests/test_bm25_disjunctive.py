"""Disjunctive BM25 must be exactly the true top-k: rank- and
score-identical to the pure oracle, on the batch reads (which run the
same exhaustive plan whatever ``prune`` says) and on single reads
(``test_search_any_api``), across corpora with strong rare terms, weak
common terms and one-posting blocks."""

import re

import numpy as np
import pytest

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
    bm25_topk_batch,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

from .oracle import OracleIndex
from .test_upsert_jobs import _jobs

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

RNG = np.random.RandomState(99)
COMMON = ["data", "code", "line", "file"]
RARE = ["zephyr", "quixotic"]


def _pruned_topk(eng, terms, k):
    """A disjunctive batch of one, with the batch reads' default
    ``prune=True``."""
    rows = bm25_topk_batch(eng, {"q": terms}, k=k, conjunctive=False)
    return [
        (r["doc_id"], r["score"])
        for r in sorted(rows.collect(), key=lambda r: r["rank"])
    ]


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
    orc = OracleIndex(docs, CFG)
    return eng, orc


@pytest.mark.parametrize(
    "query,k",
    [
        ("zephyr data", 5),          # rare + common
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
    got = _pruned_topk(eng, terms, k)
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
    # k=1: the strongest doc alone
    eng, orc = setup
    terms = list(qc.field_query("quixotic data code", CFG).terms)
    expected = orc.bm25_topk(terms, k=1, conjunctive=False)
    got = _pruned_topk(eng, terms, 1)
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
    got = _pruned_topk(eng, terms, k)
    assert [d for d, _ in got] == [d for d, _ in expected], query
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-9), (query, gd)


def test_disjunctive_strongest_plus_nonessential_doc(spark):
    """Hand-built shape from the advisor repro: the true top-1 holds the
    strongest term and a (would-be) non-essential term but no essential
    term; narrow blocks made an earlier essential-only range prune drop
    its non-essential contribution."""
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
        got = _pruned_topk(eng, terms, k)
        assert [d for d, _ in got] == [d for d, _ in expected], k
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-9), (k, gd)


def test_disjunctive_batch_prune_flag_changes_nothing(
    narrow_setup, monkeypatch
):
    """A disjunctive batch has no prune: with ``prune=True`` it plans
    and runs exactly what ``prune=False`` does (the same formatted plan
    up to expression, exchange and RDD ids; the same number of Spark
    jobs), on the one-posting-block index where a block-level prune
    would have the most blocks to drop — and both flags share one
    plan-cache entry."""
    eng, orc = narrow_setup
    # the distributed plan: small reads otherwise score on the driver
    monkeypatch.setattr(eng, "_DRIVER_MAX_POSTINGS", 0)
    qmap = {
        q: list(qc.field_query(q, CFG).terms)
        for q in ("zeph data", "zephyr quixotic data", "code line file")
    }

    def plan(df):
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return re.sub(r"(#|plan_id=|RDD\[)\d+", r"\1", text)

    frames = {}
    for p in (True, False):
        eng._batch_plan_cache.clear()  # two separately planned frames
        frames[p] = bm25_topk_batch(eng, qmap, k=3, conjunctive=False,
                                    prune=p)
    assert plan(frames[True]) == plan(frames[False])
    # unplanned twice: the second flag hits the first flag's entry
    eng._batch_plan_cache.clear()
    shared = [bm25_topk_batch(eng, qmap, k=3, conjunctive=False, prune=p)
              for p in (True, False)]
    assert len(eng._batch_plan_cache) == 1 and shared[0] is shared[1]
    # each frame runs once: a second run of a frame reuses its shuffle
    runs = {p: _jobs(eng.spark, frames[p].collect) for p in (True, False)}
    assert runs[True][0] == runs[False][0]
    for q, terms in qmap.items():
        want = orc.bm25_topk(terms, k=3, conjunctive=False)
        for p, (_, rows) in runs.items():
            got = sorted(
                ((r["rank"], r["doc_id"], r["score"]) for r in rows
                 if r["query_id"] == q)
            )
            assert [d for _, d, _ in got] == [d for d, _ in want], (q, p)
