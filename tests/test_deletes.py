"""Document deletes (tombstones): the Lucene liveDocs model.

Reference parity: the plugin sits on ES/Lucene, where DELETE is a core
index-maintenance op — deletes are recorded as liveness sidecars next
to immutable segments, every query masks them, global/per-term stats
keep counting the deleted docs until a merge purges them (ES
``docs.deleted``), and a merge ("expunge deletes") physically drops the
postings and recomputes stats. This suite pins each of those semantics
on the engine: masking on every query path (unscored ops, conjunctive
and pruned-disjunctive BM25, batch, sharded serving kernel, coalesced
serve), score staleness before purge, bit-stale-then-fresh stats across
``compact_index``, durability across ``open``, and cache invalidation.
"""

import os

import numpy as np
import pytest

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
    bm25_topk_batch,
    bm25_topk_batch_collect,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
from elasticsearch_analysis_hashsplitter_spark.sources import catalog

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

# deterministic 24-doc corpus: "join" everywhere (hot), "merg" in two
# thirds, "scan" rare, per-doc filler varying dl so BM25 ranks are
# non-trivial and stable
DOCS = [
    (
        i,
        " ".join(
            ["join"] * (1 + i % 3)
            + (["merg"] * (1 + i % 2) if i % 3 != 2 else [])
            + (["scan"] if i % 8 == 0 else [])
            + [f"fil{j}" for j in range(i % 5)]
        ),
    )
    for i in range(24)
]


def _engine(spark, docs=DOCS):
    df = spark.createDataFrame(docs, "doc_id long, content string")
    return SearchEngine.from_corpus(df, CFG, num_partitions=2)


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def _topk(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_delete_masks_unscored_ops(spark):
    eng = _engine(spark)
    before = _ids(eng.term("join"))
    victims = before[:3]
    assert eng.delete_docs(victims) == 3
    assert eng.deleted_count == 3
    after = _ids(eng.term("join"))
    assert after == [d for d in before if d not in victims]
    # every rewrite shape masks: prefix / wildcard / count / docs
    assert not set(victims) & set(_ids(eng.prefix("jo")))
    assert not set(victims) & set(_ids(eng.wildcard("jo*")))
    node = qc.field_query("join", eng.cfg, scored=False)
    assert eng.count(node) == len(after)
    # idempotent + never-indexed ids are no-ops
    assert eng.delete_docs(victims) == 0
    assert eng.delete_docs([10_000]) == 1  # masks nothing, still recorded
    assert eng.deleted_count == 4


def test_scores_stale_and_ranks_promote(spark):
    """Lucene semantics: a delete changes MEMBERSHIP only — surviving
    docs keep bit-identical scores (stats stay stale until merge), and
    the next-ranked docs are promoted into the vacated top-k slots."""
    eng = _engine(spark)
    k = 6
    full = _topk(eng.bm25_topk(["Ajoin", "Amerg"], k=24))
    victims = [full[0][0], full[2][0]]
    eng.delete_docs(victims)
    got = _topk(eng.bm25_topk(["Ajoin", "Amerg"], k=k))
    exp = [(d, s) for d, s in full if d not in victims][:k]
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert gs == pytest.approx(es, rel=0, abs=0)  # bit-identical


def test_disjunctive_prune_sound_under_deletes(spark):
    """After deletes, the disjunctive batch top-k (``prune=True``, the
    batch default) is rank-identical to the single-read OR and holds
    no deleted doc."""
    eng = _engine(spark)
    full = _topk(eng.bm25_topk(["Ajoin", "Ascan"], k=24, conjunctive=False))
    # delete the strongest docs
    victims = [d for d, _ in full[:2]]
    eng.delete_docs(victims)
    rows = bm25_topk_batch(
        eng, {"q": ["Ajoin", "Ascan"]}, k=5, conjunctive=False
    ).collect()
    pruned = [
        (r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])
    ]
    exhaustive = _topk(
        eng.bm25_topk(["Ajoin", "Ascan"], k=5, conjunctive=False)
    )
    assert [d for d, _ in pruned] == [d for d, _ in exhaustive]
    for (_, ps), (_, es) in zip(pruned, exhaustive):
        assert ps == pytest.approx(es, rel=1e-9)
    assert not set(victims) & {d for d, _ in pruned}


@pytest.mark.parametrize("conjunctive", [True, False])
def test_batch_paths_match_single_under_deletes(spark, conjunctive):
    eng = _engine(spark)
    eng.delete_docs(_ids(eng.term("join"))[:4])
    # force every prune tier so the masks run through the kernels
    eng.conjunctive_exhaustive_cutoff = 0
    queries = {
        "a": ["Ajoin", "Amerg"],
        "b": ["Ajoin", "Ascan"],
        "c": ["Amerg"],
    }
    k = 5
    per = {
        q: _topk(eng.bm25_topk(ts, k=k, conjunctive=conjunctive))
        for q, ts in queries.items()
    }
    batch = bm25_topk_batch(
        eng, queries, k=k, conjunctive=conjunctive
    ).collect()
    got: dict = {}
    for r in sorted(batch, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    coll = bm25_topk_batch_collect(eng, queries, k=k, conjunctive=conjunctive)
    for q, exp in per.items():
        for path in (got.get(q, []), coll.get(q, [])):
            assert [d for d, _ in path] == [d for d, _ in exp], q
            for (_, gs), (_, es) in zip(path, exp):
                assert gs == pytest.approx(es, rel=1e-9)


def test_sharded_kernel_masks_before_local_topk(spark):
    """The doc-sharded serving plan ranks INSIDE each task — the
    tombstone mask must run before that local top-k, or a deleted doc
    silently displaces a live one out of the shard's k rows."""
    eng = _engine(spark)
    eng.enable_serving_layout(3)
    queries = {"q": ["Ajoin", "Amerg"]}
    full = bm25_topk_batch_collect(eng, queries, k=24)["q"]
    victims = [d for d, _ in full[:2]]
    eng.delete_docs(victims)
    got = bm25_topk_batch_collect(eng, queries, k=4)["q"]
    exp = [(d, s) for d, s in full if d not in victims][:4]
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert gs == pytest.approx(es, rel=1e-9)
    # serve() (coalesced) sees the same live answers
    served = eng.serve({"r": "join"}, k=4, max_workers=2)
    node = qc.field_query("join", eng.cfg, scored=True)
    exp2 = _topk(eng.bm25_topk(list(node.terms), k=4))
    assert [d for d, _ in served["r"]] == [d for d, _ in exp2]


def test_result_cache_invalidated_by_delete(spark):
    eng = _engine(spark)
    reqs = {"x": "join join"}
    first = eng.serve(reqs, k=3, max_workers=1, result_cache=True)["x"]
    top = first[0][0]
    eng.delete_docs([top])
    second = eng.serve(reqs, k=3, max_workers=1, result_cache=True)["x"]
    assert top not in [d for d, _ in second]
    assert [d for d, _ in second] == [
        d for d, _ in eng.serve(reqs, k=3, max_workers=1)["x"]
    ]


def test_delete_durability_across_open(spark, tmp_path):
    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        build_index,
    )

    idx = str(tmp_path / "idx")
    df = spark.createDataFrame(DOCS, "doc_id long, content string")
    build_index(df, CFG, idx, num_partitions=2)
    eng = SearchEngine.open(spark, idx)
    victims = _ids(eng.term("join"))[:2]
    eng.delete_docs(victims)
    # a second tombstone file appends (no rewrite of the first)
    eng.delete_docs([victims[0], 23])
    assert len(os.listdir(catalog.deletes_path(idx))) == 2
    re = SearchEngine.open(spark, idx)
    assert re.deleted_count == 3
    assert not set(victims) & set(_ids(re.term("join")))
    # refresh() keeps them too
    assert re.refresh().deleted_count == 3
    np.testing.assert_array_equal(
        catalog.read_deletes(idx), np.unique(victims + [23])
    )


def test_compact_purges_tombstones(spark, tmp_path):
    """compact_index = Lucene merge: postings physically dropped,
    stats/lexicon recomputed — the compacted index must equal a fresh
    build over the live corpus (scores to 1e-9), with an empty delete
    set and the sha256 row invariant preserved."""
    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        build_index,
    )
    from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
        compact_index,
    )

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    df = spark.createDataFrame(DOCS, "doc_id long, content string")
    build_index(df, CFG, idx, num_partitions=2)
    eng = SearchEngine.open(spark, idx)
    victims = set(_ids(eng.term("scan")))  # rare term: empties blocks
    victims |= {1, 2}
    eng.delete_docs(sorted(victims))
    stats = compact_index(spark, idx, out, CFG, num_partitions=2)
    assert stats["n_docs"] == len(DOCS) - len(victims)
    assert not os.path.isdir(catalog.deletes_path(out))

    live_docs = [(i, c) for i, c in DOCS if i not in victims]
    fresh = _engine(spark, live_docs)
    purged = SearchEngine.open(spark, out)
    assert purged.deleted_count == 0
    assert purged.stats["avgdl"] == pytest.approx(
        fresh.stats["avgdl"], rel=1e-12
    )
    # the rare term's postings are gone entirely (empty blocks dropped)
    assert purged.term("scan").count() == 0
    for terms in (["Ajoin"], ["Ajoin", "Amerg"]):
        got = _topk(purged.bm25_topk(terms, k=8))
        exp = _topk(fresh.bm25_topk(terms, k=8))
        assert [d for d, _ in got] == [d for d, _ in exp]
        for (_, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-9)
    # the lexicon was recomputed over survivors
    lex = {r["term"]: r["df"] for r in purged.lexicon.collect()}
    flex = {r["term"]: r["df"] for r in fresh.lexicon.collect()}
    assert lex == flex
    # sha invariant: docstats rows of deleted docs removed, others kept
    assert purged.docstats.count() == len(live_docs)


def test_maybe_compact_purges_and_carries_racing_tombstones(
    spark, tmp_path, monkeypatch
):
    """maybe_compact purges applied tombstones with the rewrite, but a
    tombstone written WHILE the rewrite ran must stay in force after
    the commit — otherwise its doc silently resurrects."""
    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        build_index,
    )
    from elasticsearch_analysis_hashsplitter_spark.streaming import incremental

    idx = str(tmp_path / "idx")
    df = spark.createDataFrame(DOCS, "doc_id long, content string")
    build_index(df, CFG, idx, num_partitions=2, n_slices=3)
    eng = SearchEngine.open(spark, idx)
    eng.delete_docs([0, 1])  # pre-compaction: gets purged

    real = incremental._commit

    def racing(spark_, index_dir, *a, **kw):
        # a delete landing after the rewrite read the tombstones but
        # before the commit
        catalog.write_deletes(index_dir, [5])
        return real(spark_, index_dir, *a, **kw)

    monkeypatch.setattr(incremental, "_commit", racing)
    stats = incremental.maybe_compact(
        spark, idx, CFG, max_slices=1, num_partitions=2
    )
    assert stats is not None and stats["n_docs"] == len(DOCS) - 2
    re = SearchEngine.open(spark, idx)
    # only the racing tombstone is still in force, and it masks
    assert len(catalog.list_delete_files(idx)) == 1
    assert re.deleted_count == 1
    assert set(_ids(re.term("join"))) == set(range(len(DOCS))) - {0, 1, 5}


def test_delete_by_query_and_cap(spark):
    eng = _engine(spark)
    n = eng.delete_by_query(qc.field_query("scan", eng.cfg, scored=False))
    assert n == len([1 for i, _ in DOCS if i % 8 == 0])
    assert eng.term("scan").count() == 0
    # second run matches nothing (already masked)
    assert eng.delete_by_query(
        qc.field_query("scan", eng.cfg, scored=False)
    ) == 0
    eng.max_deleted_in_memory = eng.deleted_count + 1
    with pytest.raises(ValueError, match="compact_index"):
        eng.delete_by_query(qc.field_query("join", eng.cfg, scored=False))
    with pytest.raises(ValueError, match="max_deleted_in_memory"):
        eng.delete_docs(range(100, 110))


def test_search_after_pagination(spark):
    """ES search_after: page-walking the (score desc, doc_id asc) total
    order reproduces the full ranking exactly — with and without
    tombstones, conjunctive and disjunctive."""
    eng = _engine(spark)
    for conj, terms in ((True, ["Ajoin", "Amerg"]),
                        (False, ["Ajoin", "Ascan"])):
        full = _topk(eng.bm25_topk(terms, k=24, conjunctive=conj))
        walked, cur = [], None
        while True:
            page = _topk(
                eng.bm25_topk(terms, k=5, conjunctive=conj, after=cur)
            )
            if not page:
                break
            walked.extend(page)
            cur = (page[-1][1], page[-1][0])  # ES sort values: [score, id]
        assert walked == full
    # the public value-level APIs thread the cursor through
    p1 = _topk(eng.search("join", k=3))
    p2 = _topk(eng.search("join", k=3, after=(p1[-1][1], p1[-1][0])))
    assert p1 + p2 == _topk(eng.bm25_topk(["Ajoin"], k=6))
    d1 = _topk(eng.search_any("joinmerg", k=3))
    d2 = _topk(
        eng.search_any("joinmerg", k=3, after=(d1[-1][1], d1[-1][0]))
    )
    assert d1 + d2 == _topk(
        eng.bm25_topk(["Ajoin", "Bmerg"], k=6, conjunctive=False)
    )
    # tombstoned docs vanish from every page; survivors keep their order
    victims = [p1[0][0], p2[0][0]]
    eng.delete_docs(victims)
    q1 = _topk(eng.search("join", k=3))
    q2 = _topk(eng.search("join", k=3, after=(q1[-1][1], q1[-1][0])))
    exp = [x for x in _topk(eng.bm25_topk(["Ajoin"], k=24))][:6]
    assert q1 + q2 == exp
    assert not set(victims) & {d for d, _ in q1 + q2}


def test_explain_breakdown_sums_to_score(spark):
    """Lucene Explanation parity: per-term contributions sum to exactly
    the score bm25_topk ranks by."""
    eng = _engine(spark)
    terms = ["Ajoin", "Amerg"]
    top_doc, top_score = _topk(eng.bm25_topk(terms, k=1))[0]
    rows = eng.explain(terms, top_doc).collect()
    assert sorted(r["term"] for r in rows) == sorted(set(terms))
    assert sum(r["contribution"] for r in rows) == pytest.approx(
        top_score, rel=1e-12
    )
    for r in rows:
        assert r["df"] > 0 and r["tf"] >= 1 and r["dl"] > 0
        assert r["weight"] == 1


def test_explain_weights_and_tombstoned_doc(spark):
    eng = _engine(spark)
    terms = ["Ajoin", "Ajoin"]  # repeated term: weight 2
    top_doc, top_score = _topk(eng.bm25_topk(terms, k=1))[0]
    rows = eng.explain(terms, top_doc).collect()
    assert len(rows) == 1 and rows[0]["weight"] == 2
    assert rows[0]["contribution"] == pytest.approx(top_score, rel=1e-12)
    # a non-matching term contributes no row; a masked doc none at all
    assert eng.explain(["Axyzq"], top_doc).count() == 0
    eng.delete_docs([top_doc])
    assert eng.explain(terms, top_doc).count() == 0


def test_batch_plan_cache_keyed_by_deletes_epoch(spark):
    eng = _engine(spark)
    queries = {"a": ["Ajoin"]}
    first = bm25_topk_batch(eng, queries, k=3)
    assert bm25_topk_batch(eng, queries, k=3) is first  # cached plan
    top = first.collect()[0]["doc_id"]
    eng.delete_docs([top])
    second = bm25_topk_batch(eng, queries, k=3)
    assert second is not first
    assert top not in [r["doc_id"] for r in second.collect()]
