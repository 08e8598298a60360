"""Concurrent query serving: SearchEngine.serve must return the
sequential search() answers for every client — same docs in the same
order, scores to 1e-9 (the coalesced path aggregates through the batch
kernel, which may sum a doc's per-term contributions in a different
float order than the single-query plan).

Also pins the coalescer plumbing itself: request dedup, empty/absent
queries, the collect-variant's identity with the Window-ranked batch,
and the driver-side caches staying coherent under concurrent clients.
"""

import pytest

from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
    ServeCoalescer,
    bm25_topk_batch,
    bm25_topk_batch_collect,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

from .test_spark_engine import SMALL_CORPUS, TOKEN_CFG, _corpus_df


@pytest.fixture(scope="module")
def eng(spark):
    return SearchEngine.from_corpus(
        _corpus_df(spark, SMALL_CORPUS), TOKEN_CFG, num_partitions=4
    )


VALUES = ["spark", "join", "window", "stream", "spark join", "merge"]


def _assert_matches_sequential(eng, served, reqs, k):
    for qid, value in reqs.items():
        want = [
            (r["doc_id"], r["score"])
            for r in eng.search(value, k).collect()
        ]
        got = served[qid]
        assert [d for d, _ in got] == [d for d, _ in want], qid
        for (_, gs), (_, es) in zip(got, want):
            assert gs == pytest.approx(es, rel=1e-9), qid


@pytest.mark.parametrize("coalesce", [True, False])
def test_serve_matches_sequential(eng, coalesce):
    spark = eng.spark
    reqs = {f"c{i}": VALUES[i % len(VALUES)] for i in range(12)}
    served = eng.serve(reqs, k=5, max_workers=4, coalesce=coalesce)
    assert set(served) == set(reqs)
    _assert_matches_sequential(eng, served, reqs, 5)
    # scheduler-pool property is cleared after serving
    assert (
        spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None
    )


def test_serve_coalesced_handles_empty_and_absent(eng):
    # "" analyzes to MatchNone; "zzzznope" compiles but matches nothing
    served = eng.serve(
        {"a": "spark", "b": "", "c": "zzzznope"}, k=5, max_workers=3
    )
    assert served["b"] == []
    assert served["c"] == []
    assert len(served["a"]) > 0


def test_coalescer_long_lived_and_dedup(eng):
    """One coalescer instance serves several waves; identical values in
    one wave share a batch slot yet every future resolves."""
    coal = ServeCoalescer(eng, k=5, window_ms=50.0)
    try:
        import concurrent.futures as cf

        with cf.ThreadPoolExecutor(max_workers=6) as ex:
            futs = [
                ex.submit(coal.request, "spark") for _ in range(6)
            ]
            first = [f.result() for f in futs]
        assert all(r == first[0] for r in first)
        # second wave on the same instance
        again = coal.request("join")
        want = [
            (r["doc_id"], r["score"])
            for r in eng.search("join", 5).collect()
        ]
        assert [d for d, _ in again] == [d for d, _ in want]
    finally:
        coal.close()


def test_result_cache_serves_hot_repeats(eng):
    """result_cache=True: a repeated query is answered driver-side from
    the request-result cache (no batch job), byte-identical to the
    uncached answer; the cache is keyed by layout epoch so a layout
    switch can never serve the other plan's float-sum order."""
    reqs = {f"c{i}": VALUES[i % len(VALUES)] for i in range(8)}
    cold = eng.serve(reqs, k=5, max_workers=4, result_cache=True)
    _assert_matches_sequential(eng, cold, reqs, 5)

    coal = ServeCoalescer(eng, k=5, result_cache=True)
    try:
        hot = {qid: coal.request(v) for qid, v in reqs.items()}
        # every request hit (entries were stored by the serve() above)
        assert coal.cache_hits == len(reqs)
        assert hot == cold
    finally:
        coal.close()

    # epoch bump (layout switch) invalidates: same key, fresh compute
    eng._layout_epoch += 1
    coal2 = ServeCoalescer(eng, k=5, result_cache=True)
    try:
        again = coal2.request(reqs["c0"])
        assert coal2.cache_hits == 0
        assert [d for d, _ in again] == [d for d, _ in cold["c0"]]
    finally:
        coal2.close()
        eng._layout_epoch -= 1

    # default path stays uncached
    coal3 = ServeCoalescer(eng, k=5)
    try:
        coal3.request(reqs["c0"])
        assert coal3.cache_hits == 0
    finally:
        coal3.close()


def test_batch_collect_matches_window_rank(eng):
    """bm25_topk_batch_collect (partition top-k combine + driver merge)
    must return exactly the Window-ranked bm25_topk_batch answers —
    same docs, same order, identical score floats (both read the same
    aggregated score rows)."""
    qs = {
        "q_spark": list(qc.field_query("spark", TOKEN_CFG).terms),
        "q_both": list(qc.field_query("spark join", TOKEN_CFG).terms),
        "q_miss": ["Azzzz"],
    }
    ranked = bm25_topk_batch(eng, qs, k=5).collect()
    by_q: dict = {}
    for r in sorted(ranked, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    got = bm25_topk_batch_collect(eng, qs, k=5)
    assert set(got) == set(by_q)  # q_miss absent from both
    for qid in by_q:
        assert [d for d, _ in got[qid]] == [d for d, _ in by_q[qid]], qid
        for (_, gs), (_, es) in zip(got[qid], by_q[qid]):
            assert gs == es, qid


def test_batch_plan_cache_returns_same_object(eng):
    qs = {"q": list(qc.field_query("spark", TOKEN_CFG).terms)}
    a = bm25_topk_batch(eng, qs, k=5)
    b = bm25_topk_batch(eng, qs, k=5)
    assert a is b  # compiled plan reused
    c = bm25_topk_batch(eng, qs, k=7)
    assert c is not a
    # knob changes invalidate (cutoffs are part of the plan shape)
    old = eng.conjunctive_exhaustive_cutoff
    try:
        eng.conjunctive_exhaustive_cutoff = 0
        d = bm25_topk_batch(eng, qs, k=5)
        assert d is not a
    finally:
        eng.conjunctive_exhaustive_cutoff = old


def test_cache_overflow_during_ranges_for_each_term(eng):
    """ADVICE r4 (adapted to the r5 LRU caches): evictions inside
    _ranges_for_each_term must not drop already-cached terms out from
    under the same call's result (the clear-on-overflow predecessor
    raised KeyError here once a long-lived server crossed the cache
    cap; LRU evicts one-at-a-time but the locals-snapshot contract is
    the same). Shrinking the cap below the working set forces evictions
    on every insert."""
    terms = sorted(
        {t for v in VALUES for t in qc.field_query(v, TOKEN_CFG).terms}
    )
    warm = terms[: len(terms) // 2] or terms
    eng._ranges_for_each_term(warm)
    old_max = eng._block_ranges_cache.max
    try:
        # every insert past this point evicts the LRU entry, including
        # entries for terms this very call already snapshotted
        eng._block_ranges_cache.max = max(len(eng._block_ranges_cache) - 1, 1)
        out = eng._ranges_for_each_term(terms)
    finally:
        eng._block_ranges_cache.max = old_max
    assert set(out) == set(terms)


def test_lru_cache_eviction_order():
    """_LruCache: recently-touched entries survive; size never exceeds
    max; get() refreshes recency."""
    from elasticsearch_analysis_hashsplitter_spark.operators.search import (
        _LruCache,
    )

    c = _LruCache(3)
    c["a"] = 1
    c["b"] = 2
    c["c"] = 3
    assert c.get("a") == 1  # touch a -> b is now LRU
    c["d"] = 4
    assert "b" not in c and "a" in c and len(c) == 3
    c.update({"e": 5, "f": 6})
    assert len(c) == 3 and "f" in c and "e" in c and "d" in c
    c.clear()
    assert len(c) == 0 and c.get("a") is None


# ---------------------------------------------------------------------------
# Doc-sharded serving layout (enable_serving_layout): the ES-shard model —
# every doc's postings co-located, batch scoring one shuffle-free stage.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def eng_sharded(spark):
    e = SearchEngine.from_corpus(
        _corpus_df(spark, SMALL_CORPUS), TOKEN_CFG, num_partitions=4
    )
    e.enable_serving_layout(7)
    return e


def _qmap(values):
    return {v: list(qc.field_query(v, TOKEN_CFG).terms) for v in values}


@pytest.mark.parametrize("conjunctive", [True, False])
def test_sharded_collect_matches_unsharded(eng, eng_sharded, conjunctive):
    """The doc-sharded plan must return the shuffle plan's answers for
    every query shape: same docs, same order, scores to 1e-9 (local
    reduceat sums may order floats differently than the hash agg)."""
    qmap = _qmap(VALUES)
    qmap["q_miss"] = ["Azzzz"]
    ref = bm25_topk_batch_collect(eng, qmap, k=5, conjunctive=conjunctive)
    got = bm25_topk_batch_collect(
        eng_sharded, qmap, k=5, conjunctive=conjunctive
    )
    assert set(ref) == set(got)
    for q in ref:
        assert [d for d, _ in ref[q]] == [d for d, _ in got[q]], q
        for (_, a), (_, b) in zip(ref[q], got[q]):
            assert b == pytest.approx(a, rel=1e-9), q


@pytest.mark.parametrize("conjunctive", [True, False])
def test_sharded_collect_forced_prune(eng, eng_sharded, conjunctive):
    """Prune machinery forced on (cutoff 0): the sharded kernel applies
    the same per-query masks / exact-id filters, and sub-block stats
    recomputed at split time keep every bound sound — rank identity."""
    qmap = _qmap(VALUES)
    saved = (
        eng.conjunctive_exhaustive_cutoff,
        eng_sharded.conjunctive_exhaustive_cutoff,
    )
    try:
        for e in (eng, eng_sharded):
            e.conjunctive_exhaustive_cutoff = 0
            e._batch_plan_cache.clear()
        ref = bm25_topk_batch_collect(
            eng, qmap, k=5, conjunctive=conjunctive, prune=True
        )
        got = bm25_topk_batch_collect(
            eng_sharded, qmap, k=5, conjunctive=conjunctive, prune=True
        )
    finally:
        (
            eng.conjunctive_exhaustive_cutoff,
            eng_sharded.conjunctive_exhaustive_cutoff,
        ) = saved
        for e in (eng, eng_sharded):
            e._batch_plan_cache.clear()
    assert set(ref) == set(got)
    for q in ref:
        assert [d for d, _ in ref[q]] == [d for d, _ in got[q]], q


def test_sharded_serve_matches_sequential(eng_sharded):
    """serve() auto-routes coalesced batches through the sharded plan;
    answers stay the sequential search() answers."""
    reqs = {f"c{i}": VALUES[i % len(VALUES)] for i in range(12)}
    served = eng_sharded.serve(reqs, k=5, max_workers=4)
    assert set(served) == set(reqs)
    _assert_matches_sequential(eng_sharded, served, reqs, 5)


def test_sharded_batch_is_single_shuffle_free_job(eng_sharded):
    """Zero-shuffle audit by execution (the plan string contains the
    cached layout's build lineage, so substring checks lie): a warm
    sharded batch must be exactly ONE job with ONE stage — scan the
    co-located shard partitions, score, emit local top-k, collect."""
    st = eng_sharded.spark.sparkContext.statusTracker()
    qmap = _qmap(["merge", "stream", "spark join"])
    bm25_topk_batch_collect(eng_sharded, qmap, k=5)  # warm: stats+plan
    before = set(st.getJobIdsForGroup(None) or [])
    bm25_topk_batch_collect(eng_sharded, qmap, k=5)
    new = sorted(set(st.getJobIdsForGroup(None) or []) - before)
    assert len(new) == 1, f"expected 1 job, got {new}"
    info = st.getJobInfo(new[0])
    assert info is not None
    # stageIds lists the whole DAG including stages SKIPPED because the
    # layout's partitions are cached; exactly one stage may actually run
    # and its task count is the shard partition count
    ran = [
        si
        for si in (st.getStageInfo(s) for s in info.stageIds)
        if si is not None and si.numCompletedTasks > 0
    ]
    assert len(ran) == 1, [(s.stageId, s.numCompletedTasks) for s in ran]
    assert ran[0].numCompletedTasks == eng_sharded.sharded.rdd.getNumPartitions()


def test_sharded_more_shards_than_docs(spark):
    """Degenerate sharding (n_shards >> n_docs): singleton/empty shards
    still reassemble the exact answers."""
    e_ref = SearchEngine.from_corpus(
        _corpus_df(spark, SMALL_CORPUS), TOKEN_CFG, num_partitions=2
    )
    e_sh = SearchEngine.from_corpus(
        _corpus_df(spark, SMALL_CORPUS), TOKEN_CFG, num_partitions=2
    )
    e_sh.enable_serving_layout(64)
    qmap = _qmap(VALUES)
    ref = bm25_topk_batch_collect(e_ref, qmap, k=5)
    got = bm25_topk_batch_collect(e_sh, qmap, k=5)
    assert set(ref) == set(got)
    for q in ref:
        assert [d for d, _ in ref[q]] == [d for d, _ in got[q]], q
    e_sh.disable_serving_layout()
    assert e_sh.sharded is None


def test_sharded_conjunctive_fallback_many_terms(spark):
    """A query with > 63 distinct terms drops the bitmask membership
    check for the distinct-count fallback; the sharded kernel's local
    dedupe-and-count must agree with the shuffle plan's countDistinct
    (a doc containing the full value is planted so the conjunction
    actually matches)."""
    big_val = "".join(f"{i:04d}" for i in range(80))
    corpus = [big_val, big_val[:160], "spark join window"]
    e_ref = SearchEngine.from_corpus(
        _corpus_df(spark, corpus), TOKEN_CFG, num_partitions=3
    )
    e_sh = SearchEngine.from_corpus(
        _corpus_df(spark, corpus), TOKEN_CFG, num_partitions=3
    )
    e_sh.enable_serving_layout(5)
    big_terms = list(qc.field_query(big_val, TOKEN_CFG).terms)
    assert len(set(big_terms)) > 63
    qmap = {
        "big": big_terms,
        "small": list(qc.field_query("spark", TOKEN_CFG).terms),
    }
    ref = bm25_topk_batch_collect(e_ref, qmap, k=5)
    got = bm25_topk_batch_collect(e_sh, qmap, k=5)
    assert set(ref) == set(got)
    assert len(got["big"]) >= 1  # the planted full-value doc matches
    for q in ref:
        assert [d for d, _ in ref[q]] == [d for d, _ in got[q]], q
        for (_, a), (_, b) in zip(ref[q], got[q]):
            assert b == pytest.approx(a, rel=1e-9), q


def test_relayout_invalidates_sharded_plan_cache(spark):
    """Resizing the serving layout must not serve plans compiled over
    the previous (unpersisted) layout: a stale hit silently recomputes
    the shard split from source on every call (caught by the r5
    scaling probe — the 32-shard timing was executing the 8-shard
    plan's lineage). The epoch in the cache key pins this."""
    e = SearchEngine.from_corpus(
        _corpus_df(spark, SMALL_CORPUS), TOKEN_CFG, num_partitions=2
    )
    qmap = _qmap(VALUES)
    e.enable_serving_layout(3)
    ref = bm25_topk_batch_collect(e, qmap, k=5)
    stale_keys = [k for k in e._batch_plan_cache if k[0] == "sharded-collect"]
    assert stale_keys, "sharded plan should have been cached"
    e.disable_serving_layout()
    assert not [
        k for k in e._batch_plan_cache if k[0] == "sharded-collect"
    ], "disable_serving_layout must drop sharded plan entries"
    e.enable_serving_layout(8)
    got = bm25_topk_batch_collect(e, qmap, k=5)
    live = [k for k in e._batch_plan_cache if k[0] == "sharded-collect"]
    assert live and live[0][1] == e._layout_epoch
    frame, _, _ = e._batch_plan_cache[live[0]]
    # the cached frame must read the LIVE 8-shard persisted layout
    assert frame.rdd.getNumPartitions() == e.sharded.rdd.getNumPartitions()
    assert set(ref) == set(got)
    for q in ref:
        assert [d for d, _ in ref[q]] == [d for d, _ in got[q]], q


# ---------------------------------------------------------------------------
# refresh(): a long-lived serving engine picks up appended segments — ES's
# refresh operation (SURVEY §3.1 step 4). The serving layout carries forward
# incrementally: only new slices are shard-split; persisted pieces are reused.
# ---------------------------------------------------------------------------

from elasticsearch_analysis_hashsplitter_spark.config import (  # noqa: E402
    HashSplitterConfig,
)
from elasticsearch_analysis_hashsplitter_spark.operators.build import (  # noqa: E402
    refresh_stats,
)
from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (  # noqa: E402
    maybe_compact,
    stream_index,
)

SCFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)
S_SCHEMA = "doc_id long, content string"
S_BATCH1 = [
    (0, "spark join window merge"),
    (1, "spark spark filter scan"),
    (2, "join window batch"),
]
S_BATCH2 = [
    (3, "window window spark"),
    (4, "merge sort scan filter spark join"),
]
S_QUERIES = ["spark", "join", "window", "merge", "scan"]


def _ingest(spark, tmp_path, batch, n):
    """Append one micro-batch segment to the index under tmp_path."""
    src = tmp_path / "src"
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(batch, S_SCHEMA).write.parquet(str(src / f"b{n}"))
    q = stream_index(
        spark, str(src / "*"), S_SCHEMA, SCFG, idx, ckpt,
        num_partitions=2, on_duplicate="skip_existing",
    )
    q.awaitTermination()
    refresh_stats(spark, idx, SCFG)
    return idx


def _sharded_answers(eng, values, k=5):
    qmap = {v: list(qc.field_query(v, SCFG).terms) for v in values}
    return bm25_topk_batch_collect(eng, qmap, k=k)


def test_refresh_requires_open(eng):
    with pytest.raises(ValueError, match="open"):
        eng.refresh()


def test_refresh_without_layout_sees_new_segment(spark, tmp_path):
    idx = _ingest(spark, tmp_path, S_BATCH1, 0)
    old = SearchEngine.open(spark, idx)
    assert old.stats["n_docs"] == 3
    _ingest(spark, tmp_path, S_BATCH2, 1)
    new = old.refresh()
    assert new.stats["n_docs"] == 5
    assert sorted(r.doc_id for r in new.term("spark").collect()) == [0, 1, 3, 4]


def test_refresh_carries_layout_incrementally(spark, tmp_path):
    """Only the appended slice is shard-split; the already-persisted
    piece is reused by OBJECT identity; scores use the refreshed global
    stats, matching the unsharded plan over the full index to 1e-9."""
    idx = _ingest(spark, tmp_path, S_BATCH1, 0)
    old = SearchEngine.open(spark, idx)
    old.enable_serving_layout(4)
    piece0 = old._layout_pieces[0]
    assert old._layout_slices  # coverage recorded from the snapshot

    _ingest(spark, tmp_path, S_BATCH2, 1)
    new = old.refresh()

    # ownership moved: old engine detached, piece reused not rebuilt
    assert old.sharded is None and old._layout_pieces == []
    assert new._layout_shards == 4
    assert len(new._layout_pieces) == 2
    assert new._layout_pieces[0] is piece0

    # answers: sharded refreshed engine == unsharded full rebuild
    full = SearchEngine.open(spark, idx)
    got = _sharded_answers(new, S_QUERIES)
    ref = _sharded_answers(full, S_QUERIES)
    assert set(got) == set(ref)
    for q in ref:
        assert [d for d, _ in got[q]] == [d for d, _ in ref[q]], q
        for (_, a), (_, b) in zip(got[q], ref[q]):
            assert a == pytest.approx(b, rel=1e-9), q
    # docs from the appended segment are served
    assert {d for d, _ in got["window"]} >= {3}

    # a second refresh with nothing new appended reuses BOTH pieces
    pieces_before = list(new._layout_pieces)
    newer = new.refresh()
    assert new._layout_pieces == []  # ownership moved again
    assert newer._layout_pieces == pieces_before
    newer.disable_serving_layout()


def test_refresh_after_compaction_rebuilds_layout(spark, tmp_path):
    """Compaction rewrites the covered slices, so the persisted pieces
    describe files that no longer exist — refresh must fall back to a
    full relayout at the same shard count, and still answer exactly."""
    idx = _ingest(spark, tmp_path, S_BATCH1, 0)
    old = SearchEngine.open(spark, idx)
    old.enable_serving_layout(3)
    _ingest(spark, tmp_path, S_BATCH2, 1)
    compacted = maybe_compact(spark, idx, SCFG, max_slices=1)
    assert compacted is not None

    new = old.refresh()
    assert old.sharded is None
    assert len(new._layout_pieces) == 1  # full rebuild, not carry-forward
    assert new._layout_shards == 3
    assert new._layout_slices == set(compacted["slices"])

    full = SearchEngine.open(spark, idx)
    got = _sharded_answers(new, S_QUERIES)
    ref = _sharded_answers(full, S_QUERIES)
    assert set(got) == set(ref)
    for q in ref:
        assert [d for d, _ in got[q]] == [d for d, _ in ref[q]], q
    new.disable_serving_layout()


def test_enable_layout_covers_only_the_snapshot(spark, tmp_path):
    """A segment appended between open() and enable_serving_layout()
    must NOT be claimed as covered (the engine's snapshot predates it):
    the next refresh() shard-splits it instead of silently dropping it."""
    idx = _ingest(spark, tmp_path, S_BATCH1, 0)
    old = SearchEngine.open(spark, idx)
    _ingest(spark, tmp_path, S_BATCH2, 1)  # after open, before enable
    old.enable_serving_layout(2)
    assert len(old._layout_slices) == 1  # only the snapshot's slice

    new = old.refresh()
    assert len(new._layout_pieces) == 2  # the missed slice was split
    got = _sharded_answers(new, S_QUERIES)
    ref = _sharded_answers(SearchEngine.open(spark, idx), S_QUERIES)
    for q in ref:
        assert [d for d, _ in got[q]] == [d for d, _ in ref[q]], q
    new.disable_serving_layout()


@pytest.mark.parametrize("n_lanes", [1, 2, 3])
def test_serve_lanes_match_sequential(eng, n_lanes):
    """Pipelined dispatch lanes change only WHEN batches execute
    (overlapped vs sequential), never what they answer: every lane
    count returns search()'s own answers for every client."""
    reqs = {f"c{i}": VALUES[i % len(VALUES)] for i in range(12)}
    served = eng.serve(reqs, k=5, max_workers=4, n_lanes=n_lanes)
    assert set(served) == set(reqs)
    _assert_matches_sequential(eng, served, reqs, 5)


def test_coalescer_lanes_close_flushes_in_flight(eng):
    """close() resolves every outstanding request across all lanes —
    no future is left pending when batches are in flight on close."""
    import concurrent.futures as cf

    coal = ServeCoalescer(eng, k=5, n_lanes=2, window_ms=1.0)
    try:
        with cf.ThreadPoolExecutor(max_workers=6) as ex:
            futs = [
                ex.submit(coal.request, VALUES[i % len(VALUES)])
                for i in range(18)
            ]
            results = [f.result(timeout=120) for f in futs]
    finally:
        coal.close()
    assert all(isinstance(r, list) for r in results)
    want = {
        v: [
            (r["doc_id"], r["score"])
            for r in eng.search(v, 5).collect()
        ]
        for v in VALUES
    }
    for i, got in enumerate(results):
        exp = want[VALUES[i % len(VALUES)]]
        assert [d for d, _ in got] == [d for d, _ in exp]
        for (_, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-9)


def test_serve_value_mode_warmup_clean(spark):
    """serve() in whole-value chunking mode: answers must match
    search(), and the warm-up must analyze each request value
    SEPARATELY — the old space-joined concatenation chunked across
    value boundaries, caching junk terms (containing the joining
    space) while every real term stayed cold."""
    from elasticsearch_analysis_hashsplitter_spark.config import (
        HashSplitterConfig,
    )

    cfg = HashSplitterConfig(
        chunk_length=4, token_mode="value", apply_input_cap=False
    )
    docs = spark.createDataFrame(
        [(i, v) for i, v in enumerate(
            ["aaaabbbb", "bbbbcccc", "aaaacccc", "ccccdddd"]
        )],
        "doc_id long, content string",
    )
    e = SearchEngine.from_corpus(
        docs, cfg, text_col="content", num_partitions=2
    )
    reqs = {"q1": "aaaabbbb", "q2": "ccccdddd"}
    served = e.serve(reqs, k=3, max_workers=2)
    _assert_matches_sequential(e, served, reqs, 3)
    cached = list(e._term_stats_cache._d)
    assert cached, "warm-up should have cached the request terms"
    assert not any(" " in t for t in cached), cached
    for v in reqs.values():
        node = qc.field_query(v, cfg, scored=True)
        for t in node.terms:
            assert t in e._term_stats_cache
