"""Disjunctive BM25 (the theta/block-max pruned path of the batch
reads) must be exactly the true top-k: rank- and score-identical to the
pure oracle's unpruned evaluation, across corpora engineered so the
pruning branches actually trigger (strong rare terms, weak common
terms). Single reads never theta-prune; ``test_search_any_api`` checks
that path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.operators import search as search_mod
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
    bm25_topk_batch,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

from .oracle import OracleIndex

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

RNG = np.random.RandomState(99)
COMMON = ["data", "code", "line", "file"]
RARE = ["zephyr", "quixotic"]


def _pruned_topk(eng, terms, k):
    """A disjunctive batch of one: the read that theta-prunes."""
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
    eng.disjunctive_exhaustive_cutoff = 0  # force the theta-pruned path
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
    # k=1: theta is high after bootstrap, S-set should swallow everything
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
    eng.disjunctive_exhaustive_cutoff = 0  # force the theta-pruned path
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
    eng.disjunctive_exhaustive_cutoff = 0  # force the theta-pruned path
    orc = OracleIndex(docs, CFG)
    terms = list(qc.field_query("zzzz bbbb cccc", CFG).terms)
    for k in (1, 2, 3, 5):
        expected = orc.bm25_topk(terms, k=k, conjunctive=False)
        got = _pruned_topk(eng, terms, k)
        assert [d for d, _ in got] == [d for d, _ in expected], k
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-9), (k, gd)


def test_block_max_prune_fires_and_stays_exact(narrow_setup, monkeypatch):
    """The block-max filter (the batch planner's per-term ``f_block``
    threshold) actually removes blocks on a narrow-block index
    (block_size=1: every posting its own block) while the returned
    top-k stays exact (covered by the identity tests too; this one
    proves the prune isn't a no-op)."""
    eng, orc = narrow_setup
    # the unpruned side is the distributed exhaustive plan, not the
    # driver plan that small exhaustive reads take
    monkeypatch.setattr(eng, "_DRIVER_MAX_POSTINGS", 0)
    # one rare chunk + one common chunk: theta (the anchor's 5th-best
    # contribution) clears the common term's bound, so the rare term's
    # weak postings cannot reach the top-k
    terms = list(qc.field_query("zeph data", CFG).terms)
    got = _pruned_topk(eng, terms, 5)
    expected = orc.bm25_topk(terms, k=5, conjunctive=False)
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-9), gd

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    def mass(df):
        return df.agg(F.sum("score")).first()[0]

    pruned, _, _ = search_mod._batch_scores(eng, {"q": terms}, 5, False, True)
    full, _, _ = search_mod._batch_scores(eng, {"q": terms}, 5, False, False)
    # the f_block threshold reaches the scan as a filter on block
    # metadata; the unpruned plan never compares max_tf at all
    assert "(max_tf#" in plan(pruned)
    assert "(max_tf#" not in plan(full)
    # with one posting per block, every dropped block drops a posting's
    # contribution: the aggregate's score mass shrinks (only scores
    # below the top-k may be understated)
    assert mass(pruned) < mass(full) - 1e-6


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
    eng.lexicon = eng.lexicon.drop("min_dl")
    eng._term_stats_cache.clear()
    eng.disjunctive_exhaustive_cutoff = 0  # force the theta-pruned path
    orc = OracleIndex(docs, CFG)
    for query, k in [("zephyr data", 5), ("zephyr quixotic data", 5)]:
        terms = list(qc.field_query(query, CFG).terms)
        expected = orc.bm25_topk(terms, k=k, conjunctive=False)
        got = _pruned_topk(eng, terms, k)
        assert [d for d, _ in got] == [d for d, _ in expected], query
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-9), (query, gd)
        conj = [
            (r["doc_id"], r["score"])
            for r in eng.bm25_topk(terms, k=k).collect()
        ]
        exp_conj = orc.bm25_topk(terms, k=k, conjunctive=True)
        assert [d for d, _ in conj] == [d for d, _ in exp_conj], query


def test_theta_bootstrap_skipped_where_it_cannot_prune(
    narrow_setup, monkeypatch
):
    """theta_q is at most the anchor's own bound, and a block survives
    while its bound plus the other terms' bounds reach theta_q. A word
    longer than one chunk (``zephyr``) splits into sibling chunk terms
    of near-equal idf whose bounds alone reach the anchor's, so no
    block can drop: the bootstrap job is skipped, same answer. A
    one-chunk rare word (``zeph``) still bootstraps and prunes."""
    eng, orc = narrow_setup
    boots = []
    orig = search_mod._anchor_theta_collect
    monkeypatch.setattr(
        search_mod, "_anchor_theta_collect",
        lambda *a: boots.append(a[1]) or orig(*a),
    )
    for query, k in (("zephyr data", 1), ("zephyr data", 5)):
        terms = list(qc.field_query(query, CFG).terms)
        expected = orc.bm25_topk(terms, k=k, conjunctive=False)
        got = _pruned_topk(eng, terms, k)
        assert [d for d, _ in got] == [d for d, _ in expected], (query, k)
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-9), (query, gd)
    assert not boots
    terms = list(qc.field_query("zeph data", CFG).terms)
    pruned, _, _ = search_mod._batch_scores(eng, {"q": terms}, 5, False, True)
    assert boots
    assert "(max_tf#" in pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
