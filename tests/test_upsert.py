"""ES index/update parity (``upsert_docs``): update = delete + reindex.
Pins replacement visibility, insert-only cheap path (no merge), purge on
collision, tombstone revival, duplicate-batch refusal, and the core
identity — an upserted index scores exactly like a fresh build over the
updated corpus."""

import pytest

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.operators.build import build_index
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
)
from elasticsearch_analysis_hashsplitter_spark.sources import catalog
from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
    upsert_docs,
)

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

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


def _df(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, content string")


def _build(spark, path, docs=DOCS):
    build_index(_df(spark, docs), CFG, path, id_col="doc_id",
                text_col="content")
    return path


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def _tie_groups(ranked):
    """[(doc, score)...] -> [frozenset(docs)...] grouped by
    1e-9-rounded score, in rank order."""
    groups, last = [], None
    for doc, score in ranked:
        key = round(score, 9)
        if key != last:
            groups.append(set())
            last = key
        groups[-1].add(doc)
    return [frozenset(g) for g in groups]


def test_upsert_replaces_and_inserts(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    res = upsert_docs(
        spark, idx,
        _df(spark, [(3, "zzzz aaaa"), (100, "scan scan")]),
        CFG,
    )
    assert res["upserted"] == 2 and res["replaced"] == 1
    eng = SearchEngine.open(spark, idx)
    assert _ids(eng.term("zzzz")) == [3]
    assert 3 not in _ids(eng.term("join"))  # old content really gone
    assert 100 in _ids(eng.term("scan"))
    assert catalog.read_deletes(idx).size == 0  # purge cleared tombstones
    assert eng.stats["n_docs"] == 25


def test_upserted_index_scores_like_fresh_build(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    updates = [(i, "join merg upda") for i in (2, 7, 11)] + [
        (200, "join merg scan"),
        (201, "join"),
    ]
    upsert_docs(spark, idx, _df(spark, updates), CFG)
    eng = SearchEngine.open(spark, idx)

    upd = dict(updates)
    fresh_docs = [(i, upd.get(i, t)) for i, t in DOCS] + [
        (i, t) for i, t in updates if i >= 200
    ]
    fresh = SearchEngine.from_corpus(
        _df(spark, fresh_docs), CFG, num_partitions=2
    )
    assert eng.stats["n_docs"] == fresh.stats["n_docs"]
    assert eng.stats["avgdl"] == pytest.approx(fresh.stats["avgdl"], abs=1e-12)
    for q in ("join merg", "join merg upda", "scan"):
        got = [(r["doc_id"], r["score"]) for r in eng.search(q, k=30).collect()]
        want = [
            (r["doc_id"], r["score"]) for r in fresh.search(q, k=30).collect()
        ]
        # rank identity up to exact-score ties: the two indexes have
        # different physical layouts, so float-sum order can move an
        # exactly-tied group by 1 ULP and permute it — group by
        # 1e-9-rounded score and compare group membership + scores.
        assert _tie_groups(got) == _tie_groups(want)
        by_doc = dict(want)
        for gd, gs in got:
            assert gs == pytest.approx(by_doc[gd], abs=1e-9)


def test_pure_insert_skips_the_merge(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    before = set(catalog.list_postings_slices(idx))
    res = upsert_docs(
        spark, idx, _df(spark, [(300, "join pure"), (301, "merg pure")]), CFG
    )
    assert res["replaced"] == 0
    after = set(catalog.list_postings_slices(idx))
    # no compaction rewrite: one segment named by the upsert's commit
    assert after == before | {f"upsert_{res['stats']['version']}"}
    assert 300 in _ids(SearchEngine.open(spark, idx).term("join pure"))


def test_collision_purges_in_segment_layout(spark, tmp_path):
    """A replacement upsert purges the old version WITHOUT merging
    segments (the purge, not compact_index): the build slice is
    rewritten under a fresh key (the upsert is commit 2), the batch
    appends its own segment."""
    idx = _build(spark, str(tmp_path / "idx"))
    upsert_docs(spark, idx, _df(spark, [(0, "join newz")]), CFG)
    assert set(catalog.list_postings_slices(idx)) == {"0_v2", "upsert_2"}
    eng = SearchEngine.open(spark, idx)
    assert _ids(eng.term("newz")) == [0]
    assert 0 not in _ids(eng.term("scan"))  # old postings really purged
    assert eng.stats["n_docs"] == len(DOCS)


def test_duplicate_batch_ids_refused(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    with pytest.raises(ValueError, match="duplicate doc_id=5"):
        upsert_docs(
            spark, idx, _df(spark, [(5, "aaaa"), (5, "bbbb")]), CFG
        )


def test_upsert_revives_a_tombstoned_id(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    eng = SearchEngine.open(spark, idx)
    eng.delete_docs([5])
    assert 5 not in _ids(eng.term("join"))
    # delete-then-upsert: the purge clears the tombstone, the new
    # segment re-ingests the id — visible again with the NEW content
    upsert_docs(spark, idx, _df(spark, [(5, "back agan")]), CFG)
    eng2 = SearchEngine.open(spark, idx)
    assert _ids(eng2.term("back agan")) == [5]
    assert eng2.deleted_count == 0


def test_second_upsert_gets_fresh_slice_name(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    upsert_docs(spark, idx, _df(spark, [(400, "aaaa")]), CFG)
    upsert_docs(spark, idx, _df(spark, [(401, "bbbb")]), CFG)
    slices = set(catalog.list_postings_slices(idx))
    assert {"upsert_2", "upsert_3"} <= slices
    eng = SearchEngine.open(spark, idx)
    assert _ids(eng.term("aaaa")) == [400]
    assert _ids(eng.term("bbbb")) == [401]


# --- slice-preserving purge (purge_index) -----------------------------

import os

from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
    compact_index,
    purge_index,
)


def _inodes(d):
    return {
        os.path.relpath(os.path.join(dp, f), d): os.stat(
            os.path.join(dp, f)
        ).st_ino
        for dp, _dirs, fs in os.walk(d)
        for f in fs
    }


def _build4(spark, path):
    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        build_index,
    )

    build_index(_df(spark, DOCS), CFG, path, id_col="doc_id",
                text_col="content", n_slices=4)
    return path


def test_purge_rewrites_only_victim_slices(spark, tmp_path):
    """Tombstones confined to one build slice: that slice is decoded
    and rewritten under a fresh key, every other slice stays live as
    it is (same inodes — the strongest no-rewrite proof)."""
    idx = _build4(spark, str(tmp_path / "idx"))
    by_slice = {
        k: [
            r["doc_id"]
            for r in spark.read.parquet(
                f"{idx}/docstats/slice={k}"
            ).select("doc_id").collect()
        ]
        for k in catalog.list_postings_slices(idx)
    }
    victim_slice = next(k for k, ids in by_slice.items() if len(ids) >= 2)
    victims = sorted(by_slice[victim_slice])[:2]
    before = {
        k: _inodes(f"{idx}/postings/slice={k}")
        for k in by_slice
    }
    eng = SearchEngine.open(spark, idx)
    eng.delete_docs(victims)
    version = purge_index(spark, idx, CFG)["version"]
    live = catalog.list_postings_slices(idx)
    assert sorted(set(live) - set(by_slice)) == [f"{victim_slice}_v{version}"]
    assert victim_slice not in live
    for k in by_slice:
        if k != victim_slice:
            assert _inodes(f"{idx}/postings/slice={k}") == before[k], (
                f"slice {k} must not be rewritten"
            )
    eng2 = SearchEngine.open(spark, idx)
    assert eng2.deleted_count == 0
    assert eng2.stats["n_docs"] == len(DOCS) - len(victims)
    for v in victims:
        assert v not in _ids(eng2.term("join"))


def test_purge_matches_compact_purge_scoring(spark, tmp_path):
    """purge_index (slice-preserving) and compact_index (merge +
    purge) are two physical layouts of the same live corpus: identical
    docs, scores to 1e-9, identical stats."""
    a = _build4(spark, str(tmp_path / "a"))
    b = _build4(spark, str(tmp_path / "b"))
    victims = [3, 8, 15]
    for p in (a, b):
        SearchEngine.open(spark, p).delete_docs(victims)
    purge_index(spark, a, CFG)
    b2 = str(tmp_path / "b2")
    compact_index(spark, b, b2, CFG)
    ea, eb = SearchEngine.open(spark, a), SearchEngine.open(spark, b2)
    assert ea.stats["n_docs"] == eb.stats["n_docs"]
    assert ea.stats["avgdl"] == pytest.approx(eb.stats["avgdl"],
                                              abs=1e-12)
    for q in ("join merg", "scan", "join"):
        ga = [(r["doc_id"], r["score"])
              for r in ea.search(q, k=30).collect()]
        gb = [(r["doc_id"], r["score"])
              for r in eb.search(q, k=30).collect()]
        assert _tie_groups(ga) == _tie_groups(gb)
        by_doc = dict(gb)
        for d, s in ga:
            assert s == pytest.approx(by_doc[d], abs=1e-9)


def test_purge_survives_fully_deleted_slice(spark, tmp_path):
    """Deleting EVERY doc of one slice leaves that slice's postings
    empty; the purged index still opens and answers correctly."""
    idx = _build4(spark, str(tmp_path / "idx"))
    ks = catalog.list_postings_slices(idx)
    by_slice = {
        k: [
            r["doc_id"]
            for r in spark.read.parquet(
                f"{idx}/docstats/slice={k}"
            ).select("doc_id").collect()
        ]
        for k in ks
    }
    victim_slice = next(k for k, ids in by_slice.items() if ids)
    victims = by_slice[victim_slice]
    eng = SearchEngine.open(spark, idx)
    eng.delete_docs(victims)
    purge_index(spark, idx, CFG)
    eng2 = SearchEngine.open(spark, idx)
    assert eng2.stats["n_docs"] == len(DOCS) - len(victims)
    assert set(_ids(eng2.term("join"))).isdisjoint(set(victims))


# --- update_by_query (ES _update_by_query) ----------------------------

from pyspark.sql import functions as F

from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
    update_by_query,
)


def test_update_by_query_transforms_matches(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    src = _df(spark, DOCS)
    node = qc.field_query("scan", CFG, scored=False)  # i % 8 == 0
    res = update_by_query(
        spark, idx, node, src,
        F.concat(F.lit("edit "), F.col("content")), CFG,
    )
    assert res["matched"] == res["replaced"] == 3  # docs 0, 8, 16
    eng = SearchEngine.open(spark, idx)
    assert _ids(eng.term("edit")) == [0, 8, 16]
    assert _ids(eng.term("scan")) == [0, 8, 16]  # old content carried
    assert eng.stats["n_docs"] == len(DOCS)  # reindex, never insert


def test_update_by_query_skips_tombstoned_docs(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    SearchEngine.open(spark, idx).delete_docs([8])
    res = update_by_query(
        spark, idx, qc.field_query("scan", CFG, scored=False),
        _df(spark, DOCS), F.lit("edit only"), CFG,
    )
    assert res["matched"] == 2  # 0 and 16; the tombstoned 8 never revives
    eng = SearchEngine.open(spark, idx)
    assert _ids(eng.term("edit only")) == [0, 16]
    assert 8 not in _ids(eng.term("join"))
    assert eng.stats["n_docs"] == len(DOCS) - 1  # purge dropped doc 8


def test_update_by_query_zero_matches_is_a_noop(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    before = set(catalog.list_postings_slices(idx))
    res = update_by_query(
        spark, idx, qc.field_query("zzzz", CFG, scored=False),
        _df(spark, DOCS), F.lit("never"), CFG,
    )
    assert res["matched"] == 0 and res["upserted"] == 0
    assert set(catalog.list_postings_slices(idx)) == before


# --- review-pass regressions (crash windows, duplicate docstats) ------


def test_upsert_retry_overwrites_orphan_half_segment(spark, tmp_path,
                                                     monkeypatch):
    """Crash after the segment's writes, before the commit, then the
    documented 're-run the same upsert' retry: the crash left the
    index as it was, and the retry sweeps the orphan and writes the
    same slice key (named by the commit version, which the crash did
    not move) instead of double-indexing the batch into a sibling
    segment."""
    from elasticsearch_analysis_hashsplitter_spark.streaming import (
        incremental,
    )

    idx = _build(spark, str(tmp_path / "idx"))
    batch = _df(spark, [(0, "join newz"), (500, "newz insert")])
    real = incremental._write_segment

    def crash(*a, **kw):
        real(*a, **kw)
        raise RuntimeError("crash after the segment write")

    monkeypatch.setattr(incremental, "_write_segment", crash)
    with pytest.raises(RuntimeError, match="crash"):
        upsert_docs(spark, idx, batch, CFG)
    monkeypatch.undo()
    assert os.path.isdir(catalog.postings_path(idx, "upsert_2"))
    assert catalog.list_postings_slices(idx) == ["0"]
    res = upsert_docs(spark, idx, batch, CFG)
    assert res["upserted"] == 2
    # the orphan key was reused — no second segment stacked next to it
    assert set(catalog.list_postings_slices(idx)) == {"0_v2", "upsert_2"}
    eng = SearchEngine.open(spark, idx)
    assert _ids(eng.term("newz")) == [0, 500]
    assert eng.stats["n_docs"] == len(DOCS) + 1
    # scores equal a fresh build: doubled postings would inflate tf
    fresh = SearchEngine.from_corpus(
        _df(spark, [(i, t) for i, t in DOCS if i != 0]
            + [(0, "join newz"), (500, "newz insert")]),
        CFG, num_partitions=2,
    )
    got = {r["doc_id"]: r["score"] for r in eng.search("newz", k=5).collect()}
    want = {r["doc_id"]: r["score"]
            for r in fresh.search("newz", k=5).collect()}
    assert set(got) == set(want)
    for d, s in got.items():
        assert s == pytest.approx(want[d], abs=1e-9)


def test_upsert_counts_duplicate_docstats_rows_once(spark, tmp_path):
    """Append-mode re-ingest leaves several docstats rows for one
    doc_id (the documented double-count state); the collision probe
    must count the ID once — and the purge then removes every stored
    version."""
    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        refresh_stats,
    )
    from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
        _append_segment,
    )

    idx = _build(spark, str(tmp_path / "idx"))
    _append_segment(_df(spark, [(1, "join dupe")]), 99, CFG, idx,
                    num_partitions=2)
    refresh_stats(spark, idx, CFG)
    assert SearchEngine.open(spark, idx).stats["n_docs"] == len(DOCS) + 1
    res = upsert_docs(spark, idx, _df(spark, [(1, "upda ted")]), CFG)
    assert res["replaced"] == 1  # one ID, not one per docstats row
    eng = SearchEngine.open(spark, idx)
    assert _ids(eng.term("upda")) == [1]
    assert _ids(eng.term("dupe")) == []   # both old versions purged
    assert 1 not in _ids(eng.term("join"))
    assert eng.stats["n_docs"] == len(DOCS)
