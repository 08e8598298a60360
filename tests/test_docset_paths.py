"""The two doc-set (filter) paths of ``SearchEngine.docs``.

Up to a size bound (the index's total postings against
``SearchEngine._DRIVER_DOCSET_MAX_POSTINGS``) the one-scan bitmask
evaluation runs on the driver: the pruned postings scan is collected as
Arrow in one job and the answer is a local frame. Above it the same scan
runs distributed (decode kernel + ``bit_or`` shuffle + Catalyst tree
predicate). These tests pin that both paths return the same doc sets —
checked against a pure-Python evaluation of the same filters — and the
job counts that make the driver path worth having.
"""

import fnmatch
import hashlib

import pandas as pd
import pytest

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.operators.build import (
    build_index,
)
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
from elasticsearch_analysis_hashsplitter_spark.plans import ir

CFG = HashSplitterConfig(chunk_length=4, size=32)
N_DOCS = 1500


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


VALUES = [_md5(f"doc/{i}") for i in range(N_DOCS)]


def _trees():
    """(name, IR tree, reference predicate over the indexed value,
    whether a doc matching no leaf satisfies the tree)."""
    term = VALUES[7]
    pfx = VALUES[3][:5]
    prefix = lambda p: qc.prefix_query(p, CFG)  # noqa: E731
    lo, hi = "3" + "0" * 31, "5" + "f" * 31
    return [
        ("term", qc.field_query(term, CFG, scored=False),
         lambda v: v == term, False),
        ("term_absent", qc.field_query(_md5("absent"), CFG, scored=False),
         lambda v: False, False),
        ("prefix", prefix(pfx), lambda v: v.startswith(pfx), False),
        ("prefix_wide", prefix("a"), lambda v: v.startswith("a"), False),
        ("wildcard", qc.wildcard_query("?b?*", CFG),
         lambda v: fnmatch.fnmatchcase(v, "?b?*"), False),
        ("range", qc.range_filter(lo, hi, True, True, CFG),
         lambda v: lo <= v <= hi, False),
        ("must_not", ir.And([prefix("a"), ir.Not(prefix("ab"))]),
         lambda v: v.startswith("a") and not v.startswith("ab"), False),
        ("should_not", ir.Or([prefix("a"), ir.Not(prefix("b"))]),
         lambda v: v.startswith("a") or not v.startswith("b"), True),
        ("pure_not", ir.Not(prefix("c")),
         lambda v: not v.startswith("c"), True),
        ("match_none", ir.MatchNone(), lambda v: False, False),
    ]


@pytest.fixture(scope="module")
def base_engine(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(N_DOCS), "content": VALUES}),
        "doc_id long, content string",
    )
    return SearchEngine.from_corpus(df, CFG, num_partitions=2)


def _ids(df) -> list[int]:
    return sorted(r["doc_id"] for r in df.collect())


@pytest.mark.parametrize("n_deleted", [0, 10, 1100])
def test_driver_and_distributed_paths_agree(base_engine, monkeypatch,
                                            n_deleted):
    # a fresh engine over the same cached index, so each case owns its
    # tombstones; ~10 ids mask as a NOT IN literal on the distributed
    # path, 1100 (past 1024) as a broadcast anti join. Doc 7 (the term
    # tree's only match) is among them whenever there are any.
    eng = SearchEngine(
        base_engine.spark, base_engine.postings, base_engine.docstats,
        base_engine.stats, base_engine.cfg, base_engine.lexicon,
    )
    deleted = set(range(N_DOCS - n_deleted, N_DOCS))
    if n_deleted:
        deleted.add(7)
    eng.delete_docs(sorted(deleted))
    for name, node, pred, zero_bits in _trees():
        want = [
            d for d, v in enumerate(VALUES)
            if pred(v) and d not in deleted
        ]
        # below the bound: every tree a doc matching no leaf cannot
        # satisfy runs on the driver
        assert (eng._driver_doc_ids(node) is None) == zero_bits, name
        driver = _ids(eng.docs(node))
        assert eng.count(node) == len(driver), name
        with monkeypatch.context() as m:
            m.setattr(eng, "_DRIVER_DOCSET_MAX_POSTINGS", 0)
            if not isinstance(node, ir.MatchNone):
                assert eng._driver_doc_ids(node) is None, name
            distributed = _ids(eng.docs(node))
            assert eng.count(node) == len(distributed), name
        assert driver == distributed == want, name


def test_small_index_filters_run_one_job_and_collect_with_none(
    spark, tmp_path
):
    idx = str(tmp_path / "idx")
    values = VALUES[:200]
    build_index(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(200), "content": values}),
            "doc_id long, content string",
        ),
        CFG, idx, num_partitions=2,
    )
    eng = SearchEngine.open(spark, idx)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def job_ids() -> list[int]:
        # jobs counted by id: Spark numbers them per context, so every
        # id past a snapshot started after it, from whatever thread
        bus.waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(None))

    def jobs_during(fn):
        snap = max(job_ids(), default=-1)
        out = fn()
        return out, sum(1 for j in job_ids() if j > snap)

    v = values[5]
    ops = {
        "term": lambda: eng.term(v),
        "prefix": lambda: eng.prefix(v[:5]),
        "wildcard": lambda: eng.wildcard(v[:3] + "?" + v[4:9] + "*"),
        "range": lambda: eng.range(v, v[:10] + "f" * 22),
    }
    ops["term"]().collect()  # warm-up: first-use planning is not the op
    for name, op in ops.items():
        df, n = jobs_during(op)
        assert n == 1, (name, n)
        rows, n = jobs_during(df.collect)
        assert n == 0, (name, n)
        assert 5 in [r["doc_id"] for r in rows], name
    node = qc.prefix_query(v[:2], CFG)
    _, n = jobs_during(lambda: eng.count(node))
    assert n == 1
    # empty answers are local frames too: no job to build or collect
    rows, n = jobs_during(lambda: eng.docs(ir.MatchNone()).collect())
    assert rows == [] and n == 0
    rows, n = jobs_during(lambda: eng._empty_scored().collect())
    assert rows == [] and n == 0
