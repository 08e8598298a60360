"""Job budget and semantics of ``upsert_docs`` and the catalog readers.

Spark jobs are counted by job id, the way ``perfbench/harness.py``'s
``JobCounter`` does: ids are sequential per context, so every job above
a snapshot started after it, whichever driver thread submitted it (the
upsert overlaps jobs from pool threads)."""

import os

import pyarrow.parquet as pq
import pytest

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.operators.build import (
    build_index,
    docstats_summary,
    refresh_stats,
    run_jobs_pool,
)
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
    bm25_topk_batch,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
from elasticsearch_analysis_hashsplitter_spark.sources import catalog
from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
    upsert_docs,
)

from .oracle import OracleIndex

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

DOCS = {
    i: " ".join(
        ["data"] * (1 + i % 7)
        + ["code"] * (i % 3)
        + (["zephyr"] if i % 11 == 0 else [])
        + (["quixo"] if i % 13 == 5 else [])
        + [f"w{i % 13}x"]
    )
    for i in range(200)
}


def _df(spark, docs):
    return spark.createDataFrame(
        list(docs.items()), "doc_id long, content string"
    )


def _build(spark, path, docs=DOCS):
    build_index(_df(spark, docs), CFG, path)
    return path


class _Jobs:
    def __init__(self, sc):
        self.sc = sc
        self.snap = self._known()[-1] if self._known() else -1

    def _known(self):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(None))

    def since(self) -> int:
        return sum(1 for j in self._known() if j > self.snap)


def _jobs(spark, fn):
    counter = _Jobs(spark.sparkContext)
    out = fn()
    return counter.since(), out


def test_docstats_summary_one_job_equals_aggregate(spark, tmp_path):
    """The per-partition (count, sum(dl)) pass gives the dict the global
    ``avg``/``sum`` aggregate gave, bit for bit, in one job instead of
    an aggregate's map stage plus its collect."""
    from pyspark.sql import functions as F

    import pandas as pd

    idx = _build(spark, str(tmp_path / "idx"))
    docstats = catalog.read_docstats(spark, idx)
    for ds in (
        docstats,
        docstats.where("dl < 0"),  # no rows
        # many partitions, lengths far from the small-int fast paths
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(3000),
                          "dl": [7 + (i * 7919) % 100003
                                 for i in range(3000)]}),
            "doc_id long, dl long",
        ),
    ):
        row = ds.agg(
            F.count("*").alias("n"),
            F.avg("dl").alias("avgdl"),
            F.sum("dl").alias("total"),
        ).collect()[0]
        n, got = _jobs(spark, lambda: docstats_summary(ds))
        assert n == 1
        assert got == {
            "n_docs": int(row["n"]),
            "avgdl": float(row["avgdl"] or 0.0),
            "total_terms": int(row["total"] or 0),
        }


def test_open_starts_no_job(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    n, eng = _jobs(spark, lambda: SearchEngine.open(spark, idx))
    assert n == 0
    assert set(catalog.BLOCK_SCHEMA.names) <= set(eng.postings.columns)
    assert "slice" in eng.postings.columns
    assert eng.lexicon.columns == catalog.LEXICON_SCHEMA.names


def test_insert_only_upsert_job_budget(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    batch = _df(spark, {1000 + i: f"data newz{i % 4}" for i in range(50)})
    n, res = _jobs(spark, lambda: upsert_docs(spark, idx, batch, CFG))
    assert res["replaced"] == 0 and res["upserted"] == 50
    # 10 where shuffle partitions equal the cores (the benchmark's
    # local[4] with 4); this session's 8 add the segment builder's
    # round-robin of the 4-partition batch up to 8 partitions (1 job)
    assert n <= 11, n
    assert res["stats"]["n_docs"] == len(DOCS) + 50


def test_half_replace_upsert_job_budget(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    batch = _df(
        spark,
        {**{i: "code newz" for i in range(0, 50, 2)},
         **{1000 + i: "data newz" for i in range(25)}},
    )
    n, res = _jobs(spark, lambda: upsert_docs(spark, idx, batch, CFG))
    assert res["replaced"] == 25 and res["upserted"] == 50
    assert n <= 14, n
    eng = SearchEngine.open(spark, idx)
    assert eng.stats["n_docs"] == len(DOCS) + 25
    assert sorted(r["doc_id"] for r in eng.term("newz").collect()) == sorted(
        list(range(0, 50, 2)) + [1000 + i for i in range(25)]
    )


def test_empty_batch_purges_pending_tombstones(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    SearchEngine.open(spark, idx).delete_docs([3, 4])
    assert SearchEngine.open(spark, idx).stats["n_docs"] == len(DOCS)
    res = upsert_docs(spark, idx, _df(spark, {}), CFG)
    assert res["upserted"] == 0 and res["replaced"] == 0
    assert catalog.read_deletes(idx).size == 0
    assert res["stats"]["n_docs"] == len(DOCS) - 2
    eng = SearchEngine.open(spark, idx)
    assert eng.stats["n_docs"] == len(DOCS) - 2
    # no segment for an empty batch
    assert "upsert_0" not in catalog.list_postings_slices(idx)


def test_duplicate_or_null_id_refused(spark, tmp_path):
    idx = _build(spark, str(tmp_path / "idx"))
    with pytest.raises(
        ValueError,
        match="duplicate doc_id=7 within the upsert batch: which row "
        "should win is ambiguous — dedupe first",
    ):
        upsert_docs(
            spark, idx,
            spark.createDataFrame(
                [(1, "a"), (7, "b"), (7, "c")], "doc_id long, content string"
            ),
            CFG,
        )
    with pytest.raises(ValueError, match="null doc_id within the upsert"):
        upsert_docs(
            spark, idx,
            spark.createDataFrame(
                [(1, "a"), (None, "b")], "doc_id long, content string"
            ),
            CFG,
        )
    assert catalog.list_postings_slices(idx) == ["0"]
    # the batch's tokenize job starts beside the id checks: a refusal
    # must not leave it running past the call
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []


def test_collisions_past_limit_refused(spark, tmp_path, monkeypatch):
    idx = _build(spark, str(tmp_path / "idx"))
    SearchEngine.open(spark, idx).delete_docs([150])
    # 1 pending tombstone + 3 collisions > 3 slots
    real_open = SearchEngine.open.__func__

    def small_open(cls, spark, index_dir):
        eng = real_open(cls, spark, index_dir)
        eng.max_deleted_in_memory = 3
        return eng

    monkeypatch.setattr(SearchEngine, "open", classmethod(small_open))
    with pytest.raises(ValueError, match="replaces more than 2 existing"):
        upsert_docs(
            spark, idx,
            _df(spark, {1: "x", 2: "y", 3: "z", 5000: "new"}), CFG,
        )
    # refused before any write: no tombstone, no segment
    assert catalog.read_deletes(idx).tolist() == [150]
    assert catalog.list_postings_slices(idx) == ["0"]


def _leave_crashed_attempt(index_dir: str, key: str) -> None:
    """What a segment write killed mid-task leaves: a truncated part
    file (no footer) under the committer's hidden ``_temporary``
    attempt directory of ``slice=<key>``, and no manifest."""
    src = catalog.postings_path(index_dir, "0")
    part = next(f for f in sorted(os.listdir(src)) if f.endswith(".parquet"))
    with open(os.path.join(src, part), "rb") as fh:
        head = fh.read()[:64]
    for root in (catalog.postings_path(index_dir, key),
                 catalog.docstats_path(index_dir, key)):
        att = os.path.join(root, "_temporary", "0", "_temporary",
                           "attempt_0_0000_m_000000_0")
        os.makedirs(att)
        with open(os.path.join(att, part), "wb") as fh:
            fh.write(head)


def test_open_and_upsert_survive_crashed_segment_write(spark, tmp_path):
    """A crashed (or in-flight) segment write must not break ``open``,
    and re-running the upsert reuses the orphan key and completes."""
    idx = _build(spark, str(tmp_path / "idx"))
    _leave_crashed_attempt(idx, "upsert_0")
    eng = SearchEngine.open(spark, idx)
    assert "min_dl" in eng.postings.columns
    assert eng.term("zephyr").count() == sum(
        "zephyr" in t.split() for t in DOCS.values()
    )
    eng.delete_docs([3])  # a pending tombstone: the purge runs too
    res = upsert_docs(
        spark, idx, _df(spark, {7: "zephyr again", 900: "zephyr"}), CFG
    )
    assert res["replaced"] == 1 and res["upserted"] == 2
    assert res["stats"]["n_docs"] == len(DOCS)  # 3 purged, 900 added
    assert catalog.manifest_exists(idx, "upsert_0")
    assert catalog.list_postings_slices(idx) == ["0", "upsert_0"]
    assert not os.path.exists(
        os.path.join(catalog.postings_path(idx, "upsert_0"), "_temporary")
    )
    eng = SearchEngine.open(spark, idx)
    assert sorted(r["doc_id"] for r in eng.term("zephyr").collect()) == sorted(
        [i for i, t in DOCS.items() if "zephyr" in t.split() and i != 3]
        + [7, 900]
    )


def _drop_min_dl(postings_dir: str) -> None:
    """Rewrite every postings file without ``min_dl`` — the layout of
    indexes built before the column existed (the stale Hadoop ``.crc``
    sidecars go too)."""
    for root, _dirs, files in os.walk(postings_dir):
        for f in files:
            p = os.path.join(root, f)
            if f.endswith(".crc"):
                os.remove(p)
            elif f.endswith(".parquet"):
                pq.write_table(pq.read_table(p).drop(["min_dl"]), p)


def test_pre_min_dl_index_reads_without_null_bounds(spark, tmp_path):
    """A pinned schema must not turn a missing ``min_dl`` into nulls:
    null block bounds would silently drop blocks from the pruned
    scoring paths. Mixed layouts (an old slice plus a new upsert
    segment) leave the column out too."""
    # "quixo" is the rarer term, so it anchors the bootstrap top-k; doc
    # 300 enters the top-k only through its legacy "zephyr" block
    legacy = {**DOCS, 300: "zephyr"}
    idx = _build(spark, str(tmp_path / "idx"), legacy)
    _drop_min_dl(catalog.postings_path(idx))
    refresh_stats(spark, idx, CFG)
    upsert_docs(spark, idx, _df(spark, {500: "data code"}), CFG)
    assert "min_dl" in pq.read_schema(
        next(
            os.path.join(catalog.postings_path(idx, "upsert_0"), f)
            for f in os.listdir(catalog.postings_path(idx, "upsert_0"))
            if f.endswith(".parquet")
        )
    ).names
    eng = SearchEngine.open(spark, idx)
    assert "min_dl" not in eng.postings.columns
    assert "min_dl" not in eng.lexicon.columns
    assert "slice" in eng.postings.columns
    eng.disjunctive_exhaustive_cutoff = 0  # force the pruned path
    orc = OracleIndex({**legacy, 500: "data code"}, CFG)
    # two rare terms: the second is essential, so its blocks go
    # through the block-max prune, which null min_dl bounds would empty
    for query, k in (("zephyr quixo", 3), ("zephyr data", 5), ("zephyr", 3)):
        terms = list(qc.field_query(query, CFG, scored=True).terms)
        pruned = bm25_topk_batch(
            eng, {"q": terms}, k=k, conjunctive=False
        ).orderBy("rank")
        for conj, got in (
            (False, pruned),
            (False, eng.search_any(query, k=k)),
            (True, eng.search(query, k=k)),
        ):
            want = orc.bm25_topk(terms, k=k, conjunctive=conj)
            rows = [(r["doc_id"], r["score"]) for r in got.collect()]
            assert [d for d, _ in rows] == [d for d, _ in want], query
            for (_, gs), (_, ws) in zip(rows, want):
                assert gs == pytest.approx(ws, rel=1e-9), query


def test_pool_workers_inherit_local_properties(spark):
    """Jobs started from ``run_jobs_pool`` threads keep the caller's
    job description, job group and FAIR pool. Starts no Spark job."""
    sc = spark.sparkContext
    keys = ("spark.job.description", "spark.jobGroup.id",
            "spark.scheduler.pool")
    sc.setJobGroup("upsert-group", "upsert phase")
    sc.setLocalProperty("spark.scheduler.pool", "mutation")
    try:
        want = {k: sc.getLocalProperty(k) for k in keys}
        assert want == {
            "spark.job.description": "upsert phase",
            "spark.jobGroup.id": "upsert-group",
            "spark.scheduler.pool": "mutation",
        }
        seen = run_jobs_pool(
            [lambda: {k: sc.getLocalProperty(k) for k in keys}] * 3,
            max_workers=3,
        )
        assert seen == [want] * 3
    finally:
        for k in keys + ("spark.job.interruptOnCancel",):
            sc.setLocalProperty(k, None)
