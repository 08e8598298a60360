"""Batched multi-query BM25: per-query results must be identical to the
pure-Python oracle's unpruned evaluation (rank and score)."""

import pytest

from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
    bm25_topk_batch,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

from .oracle import OracleIndex
from .test_spark_engine import SMALL_CORPUS, TOKEN_CFG, _corpus_df

ORC = OracleIndex(dict(enumerate(SMALL_CORPUS)), TOKEN_CFG)


@pytest.fixture(scope="module")
def eng(spark):
    return SearchEngine.from_corpus(
        _corpus_df(spark, SMALL_CORPUS), TOKEN_CFG, num_partitions=4
    )


def test_batch_matches_single(eng):
    qs = {
        "q_spark": list(qc.field_query("spark", TOKEN_CFG).terms),
        "q_join": list(qc.field_query("join", TOKEN_CFG).terms),
        "q_both": list(qc.field_query("spark join", TOKEN_CFG).terms),
        "q_hash": list(
            qc.field_query(
                "d41d8cd98f00b204e9800998ecf8427e", TOKEN_CFG
            ).terms
        ),
        "q_miss": ["Azzzz"],
    }
    batch = bm25_topk_batch(eng, qs, k=5)
    rows = batch.collect()
    by_q: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, terms in qs.items():
        want = ORC.bm25_topk(terms, k=5)
        got = by_q.get(qid, [])
        assert [d for d, _ in got] == [d for d, _ in want], qid
        for (_, gs), (_, es) in zip(got, want):
            assert gs == pytest.approx(es, rel=1e-9), qid


def test_batch_disjunctive(eng):
    qs = {
        "q1": list(qc.field_query("spark join", TOKEN_CFG).terms),
        "q2": list(qc.field_query("window stream", TOKEN_CFG).terms),
    }
    batch = bm25_topk_batch(eng, qs, k=5, conjunctive=False)
    rows = sorted(batch.collect(), key=lambda r: (r["query_id"], r["rank"]))
    for qid, terms in qs.items():
        want = ORC.bm25_topk(terms, k=5, conjunctive=False)
        got = [
            (r["doc_id"], r["score"]) for r in rows if r["query_id"] == qid
        ]
        assert [d for d, _ in got] == [d for d, _ in want], qid
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), qid


def test_batch_empty(eng):
    assert bm25_topk_batch(eng, {}, k=5).count() == 0


# ---------------------------------------------------------------------------
# forced-prune rank identity (r4): narrow blocks make every term span many
# blocks, so the conjunctive anchor prune genuinely drops blocks — results
# must stay identical
# ---------------------------------------------------------------------------

import numpy as np

_RNG = np.random.RandomState(13)
_COMMON = ["data", "code", "line", "file"]


def _narrow_docs() -> dict[int, str]:
    docs = {}
    for i in range(150):
        toks = list(_RNG.choice(_COMMON, size=_RNG.randint(4, 20)))
        if i % 11 == 0:
            toks.append("zephyr")
        docs[i] = " ".join(toks)
    return docs


_NARROW_DOCS = _narrow_docs()
_NARROW_ORC = OracleIndex(_NARROW_DOCS, TOKEN_CFG)


@pytest.fixture(scope="module")
def narrow_eng(spark):
    df = spark.createDataFrame(
        list(_NARROW_DOCS.items()), "doc_id long, content string"
    )
    eng = SearchEngine.from_corpus(df, TOKEN_CFG, num_partitions=4,
                                   block_size=4)
    eng.conjunctive_exhaustive_cutoff = 0  # force the pruned path
    return eng


_NARROW_QS = {
    "q_rare_hot": ["Azeph", "Adata"],   # rare anchor, hot other term
    "q_hot_hot": ["Adata", "Acode"],
    "q_rare": ["Azeph"],
    "q_weighted": ["Adata", "Adata", "Aline"],
}


@pytest.mark.parametrize("conjunctive", [True, False])
def test_batch_forced_prune_rank_identity(narrow_eng, conjunctive):
    eng = narrow_eng
    eng._block_ranges_cache.clear()
    pruned = bm25_topk_batch(
        eng, _NARROW_QS, k=5, conjunctive=conjunctive, prune=True
    ).collect()
    full = bm25_topk_batch(
        eng, _NARROW_QS, k=5, conjunctive=conjunctive, prune=False
    ).collect()

    def by_q(rows):
        out = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"])
            )
        return out

    got, want = by_q(pruned), by_q(full)
    assert set(got) == set(want)
    for qid in want:
        assert [d for d, _ in got[qid]] == [d for d, _ in want[qid]], qid
        for (_, gs), (_, es) in zip(got[qid], want[qid]):
            assert gs == pytest.approx(es, rel=1e-12), qid
        # and identical to the oracle
        want_orc = _NARROW_ORC.bm25_topk(
            _NARROW_QS[qid], k=5, conjunctive=conjunctive
        )
        assert [d for d, _ in got[qid]] == [d for d, _ in want_orc]


def test_batch_conjunctive_plan_has_range_prefilter(narrow_eng, monkeypatch):
    """The coarse Catalyst prefilter must reach the scan: the pruned
    plan filters on block docID metadata (min_doc/max_doc) before any
    decode; the unpruned plan never reads those columns at all."""
    eng = narrow_eng
    # the unpruned side is the distributed exhaustive plan, not the
    # driver plan that small exhaustive reads take
    monkeypatch.setattr(eng, "_DRIVER_MAX_POSTINGS", 0)
    qs = {"q": ["Azeph", "Adata"]}

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    pruned = plan(bm25_topk_batch(eng, qs, k=5, prune=True))
    full = plan(bm25_topk_batch(eng, qs, k=5, prune=False))
    assert "(max_doc#" in pruned  # a comparison, not a column listing
    assert "(max_doc#" not in full


def test_batch_random_query_shapes_match_single(narrow_eng):
    """Seeded-random query bags over the narrow-block fixture: every
    shape (rare/hot mixes, duplicates for weighting, absent terms,
    single-term, 1..4 terms) must match the oracle doc-for-doc in both
    modes with pruning on. Guards the batch kernel's mode
    dispatch (exact-id / range / stand-down) across shapes no
    hand-written case covers."""
    eng = narrow_eng
    rng = np.random.RandomState(99)
    pool = ["Azeph", "Adata", "Acode", "Aline", "Afile", "Azzzz", "Bk"]
    qmaps = {}
    for i in range(14):
        n = rng.randint(1, 5)
        qmaps[f"r{i}"] = [pool[j] for j in rng.randint(0, len(pool), n)]
    for conj in (True, False):
        rows = bm25_topk_batch(
            eng, qmaps, k=4, conjunctive=conj, prune=True
        ).collect()
        by_q: dict = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"])
            )
        for qid, terms in qmaps.items():
            want = _NARROW_ORC.bm25_topk(terms, k=4, conjunctive=conj)
            got = by_q.get(qid, [])
            assert [d for d, _ in got] == [d for d, _ in want], (
                conj, qid, terms,
            )
            for (_, gs), (_, ws) in zip(got, want):
                assert gs == pytest.approx(ws, rel=1e-9)
