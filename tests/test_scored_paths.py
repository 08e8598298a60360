"""The one scored-read path: ``search`` / ``search_any`` plan through the
batch planner (``_batch_scores``) as a batch of one.

Every clause the single-query reads carry — ``boost``,
``min_should_match``, ``must_not``, ``filter``, ``after``, tombstones
and cross-index ``global_stats`` — and the batch reads
(``bm25_topk_batch``, ``bm25_topk_batch_collect``, ``ServeCoalescer``)
are checked against a pure-Python BM25 evaluation on each of the
planner's three plans: the "driver" engine keeps every default (this
corpus stays below the prune cutoffs and ``_DRIVER_MAX_POSTINGS``, so
reads score on the driver); the "exhaustive" engine sets
``_DRIVER_MAX_POSTINGS`` to 0 (the distributed exhaustive plan); the
"pruned" engine also forces the conjunctive prune cutoff to 0 (the
anchor prune runs in its exact-id, block-range and dense tiers; a
disjunctive read always runs the exhaustive plan). Job-count tests pin
what each side costs a warm read.
"""

import numpy as np
import pytest

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.operators import search as search_mod
from elasticsearch_analysis_hashsplitter_spark.operators.multi import (
    MultiIndexEngine,
)
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
    ServeCoalescer,
    bm25_topk_batch,
    bm25_topk_batch_collect,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

from .oracle import OracleIndex
from .test_upsert_jobs import _jobs

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)
N_DOCS = 240
SIDES = ["driver", "exhaustive", "pruned"]


def _corpus() -> dict[int, str]:
    rng = np.random.RandomState(31)
    docs = {}
    for i in range(N_DOCS):
        toks = list(rng.choice(["data", "code", "line", "file"],
                               size=rng.randint(4, 20)))
        for word, every in (("zeph", 11), ("quix", 13), ("spar", 5),
                            ("join", 7)):
            if i % every == 0:
                toks += [word] * (1 + i % 3)
        rng.shuffle(toks)
        docs[i] = " ".join(toks)
    return docs


DOCS = _corpus()
# value -> the conjunctive anchor tier it takes on the pruned engine
VALUES = [
    "zeph data",  # rare anchor, hot other term: exact-id posting filter
    "spar join",  # balanced mid-df terms: block-range masks
    "data code",  # every term dense: no anchor prune
    "zeph quix spar join",
]


@pytest.fixture(scope="module")
def base(spark):
    df = spark.createDataFrame(
        list(DOCS.items()), "doc_id long, content string"
    )
    eng = SearchEngine.from_corpus(df, CFG, num_partitions=4, block_size=4)
    return eng, OracleIndex(DOCS, CFG)


def _fresh(eng: SearchEngine, side: str) -> SearchEngine:
    """A new engine over the same cached index, so each case owns its
    caches and tombstones."""
    out = SearchEngine(
        eng.spark, eng.postings, eng.docstats, eng.stats, eng.cfg,
        eng.lexicon,
    )
    if side != "driver":
        out._DRIVER_MAX_POSTINGS = 0
    if side == "pruned":
        out.conjunctive_exhaustive_cutoff = 0
    return out


def _terms(value: str) -> list[str]:
    return list(qc.field_query(value, CFG).terms)


def _oracle(orc, value, conjunctive=True, msm=1, boost=1.0,
            keep=lambda d: True):
    """Every matching doc as (doc_id, score), best first: Lucene BM25
    over the pure-Python index, term multiplicity as weight."""
    weights: dict[str, int] = {}
    for t in _terms(value):
        weights[t] = weights.get(t, 0) + 1
    k1, b = CFG.bm25_k1, CFG.bm25_b
    out = []
    for d, tfs in orc.doc_terms.items():
        hit = [t for t in sorted(weights) if t in tfs]
        if not hit or not keep(d):
            continue
        if conjunctive and len(hit) < len(weights):
            continue
        if len(hit) < msm:
            continue
        s = sum(
            boost * weights[t] * orc.idf(t) * tfs[t] * (k1 + 1.0)
            / (tfs[t] + k1 * (1.0 - b + b * orc.dl[d] / orc.avgdl))
            for t in hit
        )
        out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out


def _rows(df) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _same(got, want, what):
    assert [d for d, _ in got] == [d for d, _ in want], what
    for (d, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9), (what, d)


@pytest.mark.parametrize("side", SIDES)
def test_search_and_search_any_match_oracle(base, side):
    eng, orc = base
    eng = _fresh(eng, side)
    for value in VALUES:
        _same(_rows(eng.search(value, k=6)),
              _oracle(orc, value)[:6], ("search", value))
        _same(_rows(eng.search_any(value, k=6)),
              _oracle(orc, value, conjunctive=False)[:6],
              ("search_any", value))
    # which prunes ran: the anchor tiers leave their driver caches
    # behind
    pruned = side == "pruned"
    assert ("Azeph" in eng._term_docs_cache) == pruned  # exact ids
    assert ("Ajoin" in eng._block_ranges_cache) == pruned  # ranges
    assert "Adata" not in eng._block_ranges_cache  # dense: no prune


@pytest.mark.parametrize("side", SIDES)
def test_boost_scales_every_weight(base, side):
    eng, orc = base
    eng = _fresh(eng, side)
    for value in VALUES:
        _same(_rows(eng.search(value, k=6, boost=2.5)),
              _oracle(orc, value, boost=2.5)[:6], value)
        _same(
            _rows(eng.bm25_topk(_terms(value), k=6, conjunctive=False,
                                boost=2.5)),
            _oracle(orc, value, conjunctive=False, boost=2.5)[:6], value,
        )


@pytest.mark.parametrize("side", SIDES)
@pytest.mark.parametrize("msm", [2, 3])
def test_min_should_match(base, side, msm):
    eng, orc = base
    eng = _fresh(eng, side)
    value = "zeph quix spar join"
    want = _oracle(orc, value, conjunctive=False, msm=msm)
    assert want  # the corpus holds n-of-m matches
    _same(_rows(eng.search_any(value, k=8, min_should_match=msm)),
          want[:8], msm)


@pytest.mark.parametrize("side", SIDES)
def test_must_not_filter_and_after(base, side):
    eng, orc = base
    eng = _fresh(eng, side)
    ex = qc.field_query("quix", CFG, scored=False)
    fl = qc.field_query("code", CFG, scored=False)
    excluded, kept = orc.docs(ex), orc.docs(fl)
    for value in ("zeph data", "spar join"):
        for conj, read in ((True, eng.search), (False, eng.search_any)):
            full = _oracle(orc, value, conjunctive=conj)
            _same(_rows(read(value, k=5, must_not=ex)),
                  [x for x in full if x[0] not in excluded][:5],
                  ("must_not", value, conj))
            _same(_rows(read(value, k=5, filter=fl)),
                  [x for x in full if x[0] in kept][:5],
                  ("filter", value, conj))
            page1 = _rows(read(value, k=5))
            _same(page1, full[:5], ("page 1", value, conj))
            last = (page1[-1][1], page1[-1][0])
            _same(_rows(read(value, k=5, after=last)), full[5:10],
                  ("page 2", value, conj))


@pytest.mark.parametrize("side", SIDES)
def test_tombstones_masked_with_stale_scores(base, side):
    eng, orc = base
    eng = _fresh(eng, side)
    # the strongest hits of every value
    victims = {
        d for v in VALUES for c in (True, False)
        for d, _ in _oracle(orc, v, conjunctive=c)[:2]
    }
    eng.delete_docs(sorted(victims))
    live = lambda d: d not in victims  # noqa: E731
    for value in VALUES:
        _same(_rows(eng.search(value, k=6)),
              _oracle(orc, value, keep=live)[:6], ("search", value))
        _same(_rows(eng.search_any(value, k=6)),
              _oracle(orc, value, conjunctive=False, keep=live)[:6],
              ("search_any", value))


@pytest.mark.parametrize("side", SIDES)
def test_global_stats_across_indexes_equal_one_index(base, side):
    """dfs_query_then_fetch over an even/odd doc split scores exactly
    like the single merged index: global weights, local postings (the
    anchor prune stays on). Without dfs each index scores with its own
    stats, and the merge is the per-index top-k's."""
    eng, orc = base
    parts = [
        _fresh(
            eng.doc_subset(lambda c, r=r: c % 2 == r,
                           lambda ids, r=r: ids % 2 == r),
            side,
        )
        for r in (0, 1)
    ]
    multi = MultiIndexEngine(parts, ["even", "odd"])
    local_orcs = [
        OracleIndex({d: v for d, v in DOCS.items() if d % 2 == r}, CFG)
        for r in (0, 1)
    ]
    for value in VALUES:
        _same(_rows(multi.search(value, k=6)),
              _oracle(orc, value)[:6], ("search", value))
        _same(_rows(multi.search_any(value, k=6)),
              _oracle(orc, value, conjunctive=False)[:6],
              ("search_any", value))
        local = sorted(
            (x for o in local_orcs
             for x in _oracle(o, value, conjunctive=False)[:6]),
            key=lambda x: (-x[1], x[0]),
        )
        _same(_rows(multi.search_any(value, k=6, dfs=False)), local[:6],
              ("search_any dfs=False", value))


def test_sharded_plan_rejects_untruncated_and_min_should_match(base):
    """The doc-sharded local top-k needs ``k`` and has no
    min_should_match check: both shapes are refused, not misanswered."""
    eng, _ = base
    for k, msm in ((None, 1), (5, 2)):
        with pytest.raises(ValueError):
            search_mod._batch_scores(
                eng, {"q": _terms("zeph quix spar")}, k, False, True,
                local_topk=True, min_should_match=msm,
            )


def test_warm_search_with_cold_anchor_costs_two_jobs(base):
    """A warm conjunctive read below the prune cutoff on the distributed
    plan pays the scan and the top-k: 2 jobs, with no anchor id/range
    fetch for a term whose ids were never fetched."""
    eng, orc = base
    eng = _fresh(eng, "exhaustive")
    eng.search("data code", k=5).collect()  # warm workers and codegen
    terms = _terms("zeph data")
    eng._term_stats(terms)  # warm term stats; the anchor stays cold
    n, rows = _jobs(eng.spark, lambda: eng.search("zeph data", k=5).collect())
    assert n <= 2
    _same([(r["doc_id"], r["score"]) for r in rows],
          _oracle(orc, "zeph data")[:5], "zeph data")


def test_warm_driver_reads_cost_one_job(base):
    """Under ``_DRIVER_MAX_POSTINGS`` a warm read (term stats cached)
    costs exactly its Arrow scan: ``search``, ``search_any`` and a
    served batch of one each run 1 job, and the returned frame collects
    with none."""
    eng, orc = base
    eng = _fresh(eng, "driver")
    value = "zeph data"
    eng.search(value, k=5).collect()  # warm term stats and workers
    for conj, read in ((True, eng.search), (False, eng.search_any)):
        n, frame = _jobs(eng.spark, lambda: read(value, k=5))
        assert n == 1, conj
        n, rows = _jobs(eng.spark, frame.collect)
        assert n == 0, conj
        _same([(r["doc_id"], r["score"]) for r in rows],
              _oracle(orc, value, conjunctive=conj)[:5], conj)
    coal = ServeCoalescer(eng, k=5)
    try:
        coal.request(value)  # warm the coalescer's lane
        n, got = _jobs(eng.spark, lambda: coal.request(value))
    finally:
        coal.close()
    assert n == 1
    _same(got, _oracle(orc, value)[:5], "serve")


@pytest.mark.parametrize("side", SIDES)
def test_batch_reads_and_coalescer_match_oracle(base, side):
    eng, orc = base
    eng = _fresh(eng, side)
    qmap = {v: _terms(v) for v in VALUES}
    for conj in (True, False):
        want = {v: _oracle(orc, v, conjunctive=conj)[:6] for v in VALUES}
        ranked: dict = {}
        for r in sorted(
            bm25_topk_batch(eng, qmap, k=6, conjunctive=conj).collect(),
            key=lambda r: (r["query_id"], r["rank"]),
        ):
            ranked.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"])
            )
        collected = bm25_topk_batch_collect(eng, qmap, k=6,
                                            conjunctive=conj)
        for v in VALUES:
            # a query matching nothing is absent from both answers
            _same(ranked.get(v, []), want[v], ("batch", v, conj))
            _same(collected.get(v, []), want[v], ("collect", v, conj))
    coal = ServeCoalescer(eng, k=6)
    try:
        for v in VALUES:
            _same(coal.request(v), _oracle(orc, v)[:6], ("serve", v))
    finally:
        coal.close()
    # tombstones reach the batch reads too
    victims = {d for v in VALUES for d, _ in _oracle(orc, v)[:2]}
    eng.delete_docs(sorted(victims))
    live = lambda d: d not in victims  # noqa: E731
    collected = bm25_topk_batch_collect(eng, qmap, k=6)
    for v in VALUES:
        _same(collected.get(v, []), _oracle(orc, v, keep=live)[:6],
              ("collect, deleted", v))


@pytest.mark.parametrize("side", SIDES)
def test_query_past_63_terms(spark, side):
    """A value of more than 63 distinct chunk terms leaves the bitmask
    membership for the distinct-term count: conjunctive, disjunctive
    and min_should_match reads still match the oracle."""
    big = "".join(f"{i:04d}" for i in range(80))
    docs = {0: big, 1: big[:160], 2: "spark join window",
            3: big[:40] + " spark"}
    eng = _fresh(
        SearchEngine.from_corpus(
            spark.createDataFrame(
                list(docs.items()), "doc_id long, content string"
            ),
            CFG, num_partitions=2,
        ),
        side,
    )
    orc = OracleIndex(docs, CFG)
    assert len(set(_terms(big))) > 63
    _same(_rows(eng.search(big, k=5)), _oracle(orc, big)[:5], "and")
    for msm in (1, 2, 30):
        want = _oracle(orc, big, conjunctive=False, msm=msm)
        assert want, msm
        _same(_rows(eng.search_any(big, k=5, min_should_match=msm)),
              want[:5], ("or", msm))


def test_open_without_lexicon_dir_aggregates_postings(spark, tmp_path):
    """An index directory with no ``lexicon/`` opens with no job and
    reads term stats from the postings' own aggregation
    (``build.lexicon_frame``): the same answers as with the lexicon."""
    import os
    import shutil

    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        build_index,
    )
    from elasticsearch_analysis_hashsplitter_spark.sources import catalog

    idx = str(tmp_path / "idx")
    build_index(
        spark.createDataFrame(
            list(DOCS.items()), "doc_id long, content string"
        ),
        CFG, idx,
    )
    orc = OracleIndex(DOCS, CFG)
    with_lex = _rows(SearchEngine.open(spark, idx).search("spar join", k=6))
    shutil.rmtree(os.path.join(idx, catalog.read_commit(idx)["lexicon"]))
    n, eng = _jobs(spark, lambda: SearchEngine.open(spark, idx))
    assert n == 0
    assert eng.lexicon.columns == catalog.LEXICON_SCHEMA.names
    got = _rows(eng.search("spar join", k=6))
    assert got == with_lex
    _same(got, _oracle(orc, "spar join")[:6], "spar join")
