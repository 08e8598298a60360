"""``stats.json`` is the index's one commit: every write puts its output
in new directories and publishes it with one atomic write of the commit
record. Pins that a crash at any step of an upsert, a compaction or a
build leaves the index answering its before-state (checked against the
pure-Python oracle) and that re-running the call completes it with
nothing left behind; that an engine opened before a write keeps its
snapshot; that ``refresh()`` of a serving layout sees purged slices; and
that an index written before the commit record opens as it did and is
converted by its first write."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.functions.codec import (
    decode_counts,
)
from elasticsearch_analysis_hashsplitter_spark.operators import build
from elasticsearch_analysis_hashsplitter_spark.operators.build import (
    build_index,
)
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
    bm25_topk_batch_collect,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
from elasticsearch_analysis_hashsplitter_spark.sources import catalog
from elasticsearch_analysis_hashsplitter_spark.streaming import incremental
from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
    maybe_compact,
    upsert_docs,
)

from .oracle import OracleIndex

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

DOCS = {
    i: " ".join(
        ["join"] * (1 + i % 3)
        + (["merg"] * (1 + i % 2) if i % 3 != 2 else [])
        + (["spark"] if i % 4 == 0 else [])
        + (["window"] if i % 5 == 1 else [])
        + [f"w{i % 7}x"]
    )
    for i in range(40)
}
UPDATES = {0: "zebra zebra", 5: "join window zebra", 6: "spark spark",
           100: "zebra join", 101: "merg"}
QUERIES = ("join merg", "spark", "window zebra", "zebra", "join")


def _df(spark, docs):
    return spark.createDataFrame(
        sorted(docs.items()), "doc_id long, content string"
    )


def _assert_answers(eng, docs):
    """``eng`` answers exactly as the oracle over ``docs``: conjunctive
    and disjunctive BM25 top-k, and filter counts."""
    orc = OracleIndex(docs, CFG)
    for q in QUERIES:
        terms = list(qc.field_query(q, CFG).terms)
        for conj, read in ((True, eng.search), (False, eng.search_any)):
            got = [(r["doc_id"], r["score"]) for r in read(q, k=8).collect()]
            want = orc.bm25_topk(terms, k=8, conjunctive=conj)
            assert [d for d, _ in got] == [d for d, _ in want], (q, conj)
            for (_, gs), (_, ws) in zip(got, want):
                assert gs == pytest.approx(ws, rel=1e-9), (q, conj)
        node = qc.field_query(q, CFG, scored=False)
        assert eng.count(node) == orc.count(node), q


def _leftovers(index_dir):
    """Index directories neither live in the current commit nor retired
    by it (kept one commit for engines still open on the one before)."""
    stats = catalog.read_stats(index_dir)
    keep = {f"{t}/slice={k}" for t in ("postings", "docstats")
            for k in stats["slices"]}
    keep |= {stats["lexicon"], *stats["retired"]}
    found = {
        f"{t}/{d}" for t in ("postings", "docstats")
        for d in os.listdir(os.path.join(index_dir, t))
    } | {
        d for d in os.listdir(index_dir)
        if d.startswith("lexicon") or d == "manifest"
    }
    return sorted(found - keep)


def _raise_after(real):
    def crash(*a, **kw):
        real(*a, **kw)
        raise RuntimeError("injected crash")

    return crash


def _raise(*a, **kw):
    raise RuntimeError("injected crash")


@pytest.mark.parametrize(
    "step", ["victim_rewrite", "segment_write", "lexicon_write", "commit"]
)
def test_upsert_crash_leaves_the_before_state(spark, tmp_path, monkeypatch,
                                              step):
    idx = str(tmp_path / "idx")
    build_index(_df(spark, DOCS), CFG, idx, n_slices=2)
    target, name, fake = {
        "victim_rewrite": (incremental, "_rewrite_victims",
                           _raise_after(incremental._rewrite_victims)),
        "segment_write": (incremental, "_write_segment",
                          _raise_after(incremental._write_segment)),
        "lexicon_write": (build, "_write_lexicon",
                          _raise_after(build._write_lexicon)),
        "commit": (catalog, "write_stats", _raise),
    }[step]
    with monkeypatch.context() as m:
        m.setattr(target, name, fake)
        with pytest.raises(RuntimeError, match="injected crash"):
            upsert_docs(spark, idx, _df(spark, UPDATES), CFG)
    eng = SearchEngine.open(spark, idx)
    assert eng.deleted_count == 0
    _assert_answers(eng, DOCS)

    res = upsert_docs(spark, idx, _df(spark, UPDATES), CFG)
    assert res["replaced"] == 3 and res["upserted"] == len(UPDATES)
    _assert_answers(SearchEngine.open(spark, idx), {**DOCS, **UPDATES})
    assert _leftovers(idx) == []


def test_compaction_crash_after_slice_write(spark, tmp_path, monkeypatch):
    idx = str(tmp_path / "idx")
    build_index(_df(spark, DOCS), CFG, idx, n_slices=3)
    SearchEngine.open(spark, idx).delete_docs([1, 2])
    live = {i: t for i, t in DOCS.items() if i not in (1, 2)}
    with monkeypatch.context() as m:
        m.setattr(incremental, "_commit", _raise)
        with pytest.raises(RuntimeError, match="injected crash"):
            maybe_compact(spark, idx, CFG, max_slices=1)
    eng = SearchEngine.open(spark, idx)
    assert eng.deleted_count == 2 and eng.stats["n_docs"] == len(DOCS)
    assert catalog.list_postings_slices(idx) == ["0", "1", "2"]
    stats = maybe_compact(spark, idx, CFG, max_slices=1)
    eng = SearchEngine.open(spark, idx)
    assert eng.deleted_count == 0
    assert catalog.list_postings_slices(idx) == [
        f"compacted_v{stats['version']}"
    ]
    _assert_answers(eng, live)
    assert _leftovers(idx) == []


def test_engine_opened_before_an_upsert_keeps_its_snapshot(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(_df(spark, DOCS), CFG, idx, n_slices=2)
    old = SearchEngine.open(spark, idx)
    upsert_docs(spark, idx, _df(spark, UPDATES), CFG)
    # the slices that held a replaced doc are retired by the upsert's
    # commit, not yet deleted
    retired = catalog.read_stats(idx)["retired"]
    assert any(d.startswith("postings/slice=") for d in retired)
    assert all(os.path.isdir(os.path.join(idx, d)) for d in retired)
    _assert_answers(old, DOCS)
    assert old.docstats.count() == len(DOCS)
    _assert_answers(SearchEngine.open(spark, idx), {**DOCS, **UPDATES})


def _refreshed_layout_answers(spark, idx, batches):
    """Serving-layout answers of an engine opened on ``idx`` and
    refreshed after upserting ``batches``, checked against a fresh
    ``open``; returns them."""
    eng = SearchEngine.open(spark, idx).enable_serving_layout(3)
    for batch in batches:
        upsert_docs(spark, idx, _df(spark, batch), CFG)
    new = eng.refresh()
    fresh = SearchEngine.open(spark, idx)
    qmap = {q: list(qc.field_query(q, CFG).terms)
            for q in ("join", "merg", "spark", "window", "zebra")}
    got = bm25_topk_batch_collect(new, qmap, k=50)
    want = bm25_topk_batch_collect(fresh, qmap, k=50)
    new.disable_serving_layout()
    for q in qmap:
        assert [d for d, _ in got[q]] == [d for d, _ in want[q]], q
        for (_, gs), (_, ws) in zip(got[q], want[q]):
            assert gs == pytest.approx(ws, rel=1e-9), q
    return got


def test_refresh_serving_layout_after_a_replacing_upsert(spark, tmp_path):
    """The purge rewrites the replaced doc's slice under a new key, so a
    refreshed serving layout must not reuse the piece that still holds
    the old version: it answers like a fresh ``open``."""
    idx = str(tmp_path / "idx")
    build_index(_df(spark, DOCS), CFG, idx)
    got = _refreshed_layout_answers(spark, idx, [{0: "zebra zebra"}])
    assert 0 not in {d for d, _ in got["join"]}
    assert [d for d, _ in got["zebra"]] == [0]


def test_refresh_serving_layout_after_upserts_reusing_no_key(spark,
                                                              tmp_path):
    """Three upserts: the first replaces a doc of slice ``0``, the
    second (an insert) deletes the retired ``0``, the third replaces a
    doc of the rewritten slice. Its rewrite must not come back as ``0``,
    the key the layout's piece covers, or the refreshed layout would
    reuse that piece's old versions next to their replacements."""
    idx = str(tmp_path / "idx")
    build_index(_df(spark, DOCS), CFG, idx)
    got = _refreshed_layout_answers(
        spark, idx,
        [{0: "zebra zebra"}, {200: "merg window"}, {1: "zebra merg"}],
    )
    assert "0" not in catalog.list_postings_slices(idx)
    assert {0, 1}.isdisjoint(d for d, _ in got["join"])
    assert sorted(d for d, _ in got["zebra"]) == [0, 1]
    _assert_answers(
        SearchEngine.open(spark, idx),
        {**DOCS, 0: "zebra zebra", 200: "merg window", 1: "zebra merg"},
    )


def test_build_crash_after_a_slice_resumes(spark, tmp_path, monkeypatch):
    """A build that crashes after committing slice 0 of 2 as pending:
    the index does not open (a first build has no before-state to
    answer), and the re-run builds only slice 1."""
    idx = str(tmp_path / "idx")
    with monkeypatch.context() as m:
        m.setattr(catalog, "commit", _raise_after(catalog.commit))
        with pytest.raises(RuntimeError, match="injected crash"):
            build_index(_df(spark, DOCS), CFG, idx, n_slices=2)
    assert catalog.read_stats(idx)["pending"] == ["0"]
    with pytest.raises(FileNotFoundError):
        SearchEngine.open(spark, idx)
    res = build_index(_df(spark, DOCS), CFG, idx, n_slices=2)
    # the resumed slice is named by the re-run's first commit
    assert res["built_slices"] == 1 and res["slices"] == ["0", "1_v2"]
    _assert_answers(SearchEngine.open(spark, idx), DOCS)
    assert _leftovers(idx) == []


def test_stream_batch_carries_the_stats(spark, tmp_path):
    """A stream micro-batch commits its segment with the index's stats
    and lexicon as they were (no stats job); ``refresh_stats`` brings
    both up to date."""
    idx = str(tmp_path / "idx")
    build_index(_df(spark, DOCS), CFG, idx)
    before = catalog.read_stats(idx)
    incremental._append_segment(_df(spark, {300: "zebra join"}), 0, CFG,
                                idx)
    after = catalog.read_stats(idx)
    for key in ("n_docs", "avgdl", "total_terms", "lexicon"):
        assert after[key] == before[key], key
    assert len(after["slices"]) == 2
    build.refresh_stats(spark, idx, CFG)
    _assert_answers(SearchEngine.open(spark, idx), {**DOCS, 300: "zebra join"})


def _to_parent_format(idx):
    """Rewrite a committed index as the previous on-disk format wrote
    it: ``stats.json`` holds only the scalars and the config, the
    lexicon lives in ``lexicon/``, per-slice ``manifest/`` files exist,
    and every postings block and lexicon row carries the ``max_tf`` /
    ``min_dl`` bounds."""
    stats = catalog.read_stats(idx)
    os.rename(os.path.join(idx, stats["lexicon"]),
              os.path.join(idx, "lexicon"))
    for key in ("version", "slices", "lexicon", "purged", "retired"):
        stats.pop(key)
    with open(catalog.stats_file(idx), "w") as f:
        json.dump(stats, f)
    os.makedirs(os.path.join(idx, "manifest"))
    bounds: dict[str, tuple[int, int]] = {}
    for root, _dirs, files in sorted(os.walk(catalog.postings_path(idx))):
        for f in files:
            p = os.path.join(root, f)
            if f.endswith(".crc"):
                os.remove(p)
            elif f.endswith(".parquet"):
                t = pq.read_table(p)
                tf = [int(decode_counts(b).max()) for b in
                      t.column("tfs").to_pylist()]
                dl = [int(decode_counts(b).min()) for b in
                      t.column("dls").to_pylist()]
                for term, a, b in zip(t.column("term").to_pylist(), tf, dl):
                    old = bounds.get(term, (0, 1 << 40))
                    bounds[term] = (max(old[0], a), min(old[1], b))
                t = t.add_column(4, "max_tf", pa.array(tf, pa.int32()))
                t = t.add_column(5, "min_dl", pa.array(dl, pa.int64()))
                pq.write_table(t, p)
        if os.path.basename(root).startswith("slice="):
            key = os.path.basename(root).split("=", 1)[1]
            with open(os.path.join(idx, "manifest", f"slice-{key}.json"),
                      "w") as f:
                json.dump({"slice": key}, f)
    for root, _dirs, files in os.walk(os.path.join(idx, "lexicon")):
        for f in files:
            p = os.path.join(root, f)
            if f.endswith(".crc"):
                os.remove(p)
            elif f.endswith(".parquet"):
                t = pq.read_table(p)
                terms = t.column("term").to_pylist()
                t = t.append_column("max_tf", pa.array(
                    [bounds[x][0] for x in terms], pa.int32()))
                t = t.append_column("min_dl", pa.array(
                    [bounds[x][1] for x in terms], pa.int64()))
                pq.write_table(t, p)


def test_parent_format_index_opens_and_its_first_upsert_converts_it(
    spark, tmp_path
):
    idx = str(tmp_path / "idx")
    build_index(_df(spark, DOCS), CFG, idx, n_slices=2)
    # replace one doc and delete another, both of slice 0
    a, b = pq.read_table(catalog.docstats_path(idx, 0)).column(
        "doc_id").to_pylist()[:2]
    _to_parent_format(idx)
    eng = SearchEngine.open(spark, idx)
    assert eng._slices == ["0", "1"]
    assert eng.lexicon.columns == ["term", "df"]
    assert "max_tf" not in eng.postings.columns
    _assert_answers(eng, DOCS)

    eng.delete_docs([b])
    upsert_docs(spark, idx, _df(spark, {a: "zebra zebra"}), CFG)
    stats = catalog.read_stats(idx)
    assert stats["version"] == 1 and "lexicon" in stats["retired"]
    assert not os.path.exists(os.path.join(idx, "manifest"))
    after = {i: t for i, t in DOCS.items() if i != b}
    after[a] = "zebra zebra"
    eng = SearchEngine.open(spark, idx)
    assert eng.deleted_count == 0
    _assert_answers(eng, after)
    # slice 1 held neither doc: it is still the parent's file, bounds
    # columns and all, read under the narrower schema
    assert sorted(stats["slices"]) == ["0_v1", "1", "upsert_1"]
    d = catalog.postings_path(idx, "1")
    part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    assert "min_dl" in pq.read_schema(os.path.join(d, part)).names
    assert _leftovers(idx) == []
