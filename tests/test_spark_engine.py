"""End-to-end Spark engine tests: every reference integration scenario
(FIXTURES.md §5) executed against the distributed index, plus BM25
rank-identity vs the pure-Python oracle, on-disk build/open, resume, and
the sha256 row invariant."""

import pytest

from elasticsearch_analysis_hashsplitter_spark.config import (
    CHUNKLENGTH2,
    CL4_LOWER,
    CL4_LOWER_FIXED16,
    HashSplitterConfig,
)
from elasticsearch_analysis_hashsplitter_spark.operators.build import (
    build_index,
    verify_content_sha256,
)
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

from .oracle import OracleIndex
from .test_query_compile import HASHES_CL2, HASHES_FIXED16


def _corpus_df(spark, values):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "doc_id long, content string"
    )


@pytest.fixture(scope="module")
def eng_cl2(spark):
    return SearchEngine.from_corpus(
        _corpus_df(spark, HASHES_CL2), CHUNKLENGTH2, num_partitions=4
    )


@pytest.fixture(scope="module")
def eng_f16(spark):
    return SearchEngine.from_corpus(
        _corpus_df(spark, HASHES_FIXED16), CL4_LOWER_FIXED16, num_partitions=4
    )


@pytest.fixture(scope="module")
def eng_single(spark):
    return SearchEngine.from_corpus(
        _corpus_df(spark, ["0000111122223333"]), CL4_LOWER, num_partitions=2
    )


@pytest.mark.parametrize(
    "value,expected",
    [
        ("0011223344556677", 1),
        ("00112233445566", 1),
        ("0011223344556", 0),
        ("0011223344556688", 0),
    ],
)
def test_term_counts(eng_cl2, value, expected):
    assert eng_cl2.term(value).count() == expected


@pytest.mark.parametrize(
    "value,expected",
    [("00112233445566", 1), ("0011223344556", 1), ("00112233445567", 0)],
)
def test_prefix_counts(eng_cl2, value, expected):
    assert eng_cl2.prefix(value).count() == expected


@pytest.mark.parametrize(
    "lo,hi,ilo,ihi,expected",
    [
        ("1111000000000000", "2222000000000000", True, True, 3),
        ("0000111100000000", "0000111100009999", True, True, 2),
        ("0000111100000000", "0000222200000000", True, True, 8),
        ("0000111100000000", "0000222200000000", False, True, 7),
        ("0000111100000000", "0000222200000000", True, False, 7),
        ("0000111100000000", "0000222200000000", False, False, 6),
        ("0000111122223333", "0000111122223333", True, True, 1),
        ("0000111122223333", "0000111122223333", True, False, 0),
        (None, None, True, True, 17),
        ("000011110000", "000022220000", True, True, 9),
        ("00001111000000", "00002222000000", True, True, 7),
    ],
)
def test_range_counts(eng_f16, lo, hi, ilo, ihi, expected):
    assert eng_f16.range(lo, hi, ilo, ihi).count() == expected


@pytest.mark.parametrize(
    "term,expected", [("b1111", 1), ("a000", 0), ("z9999", 0)]
)
def test_chunk_term_counts(eng_single, term, expected):
    assert eng_single.chunk_term(term).count() == expected


@pytest.mark.parametrize(
    "pattern,expected",
    [
        ("????1111*", 1),
        ("000*", 1),
        ("*3333", 0),
        ("000*3", 0),
        ("99*99", 0),
    ],
)
def test_wildcard_variable_counts(eng_single, pattern, expected):
    assert eng_single.wildcard(pattern).count() == expected


@pytest.mark.parametrize(
    "pattern,expected", [("*3333", 1), ("000*3", 1), ("99*99", 0)]
)
def test_wildcard_fixed_counts(eng_f16, pattern, expected):
    # patterns target doc 0000111122223333 (present in HASHES_FIXED16)
    assert eng_f16.wildcard(pattern).count() == expected


# ---------------------------------------------------------------------------
# BM25 rank identity vs the pure-Python oracle (FIXTURES.md §6)
# ---------------------------------------------------------------------------
TOKEN_CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

SMALL_CORPUS = [
    "spark join window merge sort",
    "spark spark spark filter scan",
    "join join window batch stream",
    "d41d8cd98f00b204e9800998ecf8427e spark hash",
    "the quick brown fox jumps over spark",
    "window window window join",
    "merge sort scan filter batch stream spark join",
    "d41d8cd98f00b204e9800998ecf8427e d41d8cd98f00b204e9800998ecf8427e",
    "lonely document about nothing relevant",
    "spark window",
]


@pytest.fixture(scope="module")
def eng_tokens(spark):
    return SearchEngine.from_corpus(
        _corpus_df(spark, SMALL_CORPUS), TOKEN_CFG, num_partitions=4
    )


@pytest.fixture(scope="module")
def oracle_tokens():
    return OracleIndex(dict(enumerate(SMALL_CORPUS)), TOKEN_CFG)


@pytest.mark.parametrize(
    "query",
    [
        "spark",
        "window",
        "join",
        "d41d8cd98f00b204e9800998ecf8427e",
        "stream",
    ],
)
def test_bm25_rank_identity(eng_tokens, oracle_tokens, query, spark):
    node = qc.field_query(query, TOKEN_CFG, scored=True)
    expected = oracle_tokens.bm25_topk(list(node.terms), k=10)
    got = [
        (r["doc_id"], r["score"])
        for r in eng_tokens.search(query, k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-9), (gd, ed)


def test_bm25_multi_term_conjunctive(eng_tokens, oracle_tokens):
    terms = (
        qc.field_query("spark", TOKEN_CFG).terms
        + qc.field_query("join", TOKEN_CFG).terms
    )
    expected = oracle_tokens.bm25_topk(list(terms), k=10)
    got = [
        (r["doc_id"], r["score"])
        for r in eng_tokens.bm25_topk(list(terms), k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (_, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-9)


def test_scored_count_matches_filter_count(eng_tokens, oracle_tokens):
    node = qc.field_query("spark", TOKEN_CFG, scored=False)
    assert eng_tokens.count(node) == oracle_tokens.count(node)


# ---------------------------------------------------------------------------
# On-disk build, open, resume, integrity
# ---------------------------------------------------------------------------
def test_build_open_resume_and_sha(spark, tmp_path):
    idx_dir = str(tmp_path / "idx")
    docs = _corpus_df(spark, SMALL_CORPUS)
    stats = build_index(
        docs, TOKEN_CFG, idx_dir, num_partitions=4, n_slices=3
    )
    assert stats["n_docs"] == len(SMALL_CORPUS)
    assert stats["built_slices"] == 3

    eng = SearchEngine.open(spark, idx_dir)
    oracle = OracleIndex(dict(enumerate(SMALL_CORPUS)), TOKEN_CFG)
    expected = oracle.bm25_topk(["Aspar", "Bk"], k=5)
    got = [
        (r["doc_id"], r["score"])
        for r in eng.bm25_topk(["Aspar", "Bk"], k=5).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]

    # integrity invariant: 100% of rows
    assert verify_content_sha256(docs, spark, idx_dir) == 0

    # resume: a second run skips all slices (the commit holds them)
    stats2 = build_index(
        docs, TOKEN_CFG, idx_dir, num_partitions=4, n_slices=3
    )
    assert stats2["built_slices"] == 0
    assert stats2["n_docs"] == len(SMALL_CORPUS)


def test_resume_after_partial_failure(spark, tmp_path, monkeypatch):
    """A build that crashes while writing its last slice: the index
    does not open (finished slices are committed only as pending). The
    rerun deletes the half-written slice, builds only it, and answers
    like a clean one-shot build, with no directory outside the commit
    left behind."""
    import os

    from elasticsearch_analysis_hashsplitter_spark.operators import build
    from elasticsearch_analysis_hashsplitter_spark.sources import catalog

    idx_dir = str(tmp_path / "idx_partial")
    docs = _corpus_df(spark, SMALL_CORPUS)
    real = build.run_jobs_concurrently
    calls = []

    def crash(*thunks):
        calls.append(1)
        if len(calls) == 3:  # slice 2: one sink lands, then the crash
            thunks[0]()
            raise RuntimeError("crash in slice 2")
        return real(*thunks)

    with monkeypatch.context() as m:
        m.setattr(build, "run_jobs_concurrently", crash)
        with pytest.raises(RuntimeError, match="crash"):
            build_index(docs, TOKEN_CFG, idx_dir, num_partitions=4,
                        n_slices=3)
    assert os.path.isdir(catalog.postings_path(idx_dir, 2))
    assert catalog.read_stats(idx_dir)["pending"] == ["0", "1"]
    with pytest.raises(FileNotFoundError):
        SearchEngine.open(spark, idx_dir)

    stats = build_index(docs, TOKEN_CFG, idx_dir, num_partitions=4, n_slices=3)
    assert stats["built_slices"] == 1  # only the crashed slice
    assert stats["n_docs"] == len(SMALL_CORPUS)
    assert sorted(os.listdir(catalog.postings_path(idx_dir))) == [
        "slice=0", "slice=1", "slice=2_v3",
    ]

    eng = SearchEngine.open(spark, idx_dir)
    oracle = OracleIndex(dict(enumerate(SMALL_CORPUS)), TOKEN_CFG)
    for q in ("spark", "join", "window"):
        node = qc.field_query(q, TOKEN_CFG, scored=False)
        assert eng.count(node) == oracle.count(node), q


def test_block_splitting_heavy_term(spark):
    # one ultra-hot term across many docs; tiny block_size forces multi-block
    import numpy as np

    from elasticsearch_analysis_hashsplitter_spark.functions.codec import (
        decode_doc_ids,
    )
    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        build_postings_blocks_segmented,
        tokenize_corpus,
    )

    docs = spark.createDataFrame(
        [(i, "hot") for i in range(500)], "doc_id long, content string"
    )
    cfg = HashSplitterConfig(
        chunk_length=4, token_mode="tokens", apply_input_cap=False
    )
    tokenized = tokenize_corpus(docs, cfg)
    # map-side segments + shuffle-merge: a fragment of >= block_size/2
    # passes through, so one term's block ranges may interleave — the
    # postings after decode are what must be exact
    blocks = build_postings_blocks_segmented(
        tokenized, 4, block_size=64
    ).collect()
    hot = [b for b in blocks if b["term"] == "Ahot"]
    assert sum(b["df"] for b in hot) == 500
    assert len(hot) >= 500 // 64  # split into blocks
    assert all(b["df"] <= 64 for b in hot)
    all_ids = np.sort(
        np.concatenate([decode_doc_ids(b["docs"]) for b in hot])
    )
    assert np.array_equal(all_ids, np.arange(500))
