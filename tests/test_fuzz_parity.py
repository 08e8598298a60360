"""Randomized engine↔oracle parity: seeded random hash corpora and
random term/prefix/range/wildcard queries; Spark doc-sets must equal the
pure-Python oracle's for every query. One engine build per config, many
queries per build (collected as doc-id sets, not counts, for a stricter
check)."""

import numpy as np
import pytest

from elasticsearch_analysis_hashsplitter_spark.config import (
    CHUNKLENGTH2,
    CL4_LOWER_FIXED16,
)
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

from .oracle import OracleIndex

RNG = np.random.RandomState(20260816)


def _hexes(n, length, rng):
    return [
        "".join(rng.choice(list("0123456789abcdef"), size=length))
        for _ in range(n)
    ]


@pytest.fixture(scope="module")
def corpus_f16(spark):
    # skewed: clustered prefixes so ranges/prefixes hit interesting splits
    vals = _hexes(40, 16, RNG)
    vals += [v[:8] + w[8:] for v, w in zip(vals[:20], vals[20:40])]
    vals += [vals[0], vals[1]]  # exact dupes
    docs = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, content string"
    )
    eng = SearchEngine.from_corpus(docs, CL4_LOWER_FIXED16, num_partitions=4)
    orc = OracleIndex(dict(enumerate(vals)), CL4_LOWER_FIXED16)
    return vals, eng, orc


def _docset(df):
    return sorted(r.doc_id for r in df.collect())


def test_random_ranges(corpus_f16):
    vals, eng, orc = corpus_f16
    rng = np.random.RandomState(7)
    for i in range(10):
        a, b = rng.choice(vals, 2)
        lo, hi = (a, b) if a <= b else (b, a)
        if rng.rand() < 0.3:
            hi = lo  # singleton / empty corner
        ilo, ihi = bool(rng.rand() < 0.5), bool(rng.rand() < 0.5)
        # truncated bounds exercise the short-chunk branches
        if rng.rand() < 0.4:
            lo = lo[: rng.randint(1, 16)]
        node = qc.range_filter(lo, hi, ilo, ihi, CL4_LOWER_FIXED16)
        assert _docset(eng.docs(node)) == sorted(orc.docs(node)), (
            i, lo, hi, ilo, ihi,
        )


def test_random_wildcards(corpus_f16):
    vals, eng, orc = corpus_f16
    rng = np.random.RandomState(11)
    for i in range(10):
        base = list(rng.choice(vals))
        # random ?-masking and one optional *
        for j in range(16):
            if rng.rand() < 0.4:
                base[j] = "?"
        pat = "".join(base)
        r = rng.rand()
        if r < 0.3:
            cut = rng.randint(1, 15)
            pat = pat[:cut] + "*"
        elif r < 0.6:
            cut = rng.randint(1, 15)
            pat = "*" + pat[cut:]
        node = qc.wildcard_query(pat, CL4_LOWER_FIXED16)
        assert _docset(eng.docs(node)) == sorted(orc.docs(node)), (i, pat)


def test_random_terms_and_prefixes(corpus_f16):
    vals, eng, orc = corpus_f16
    rng = np.random.RandomState(13)
    for i in range(10):
        v = str(rng.choice(vals))
        cut = rng.randint(1, 17)
        value = v[:cut]
        tnode = qc.field_query(value, CL4_LOWER_FIXED16, scored=False)
        assert _docset(eng.docs(tnode)) == sorted(orc.docs(tnode)), (i, value)
        pnode = qc.prefix_query(value, CL4_LOWER_FIXED16)
        assert _docset(eng.docs(pnode)) == sorted(orc.docs(pnode)), (i, value)


def test_random_variable_size_cl2(spark):
    rng = np.random.RandomState(17)
    vals = _hexes(30, 16, rng) + _hexes(10, 13, rng) + _hexes(10, 9, rng)
    docs = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, content string"
    )
    eng = SearchEngine.from_corpus(docs, CHUNKLENGTH2, num_partitions=4)
    orc = OracleIndex(dict(enumerate(vals)), CHUNKLENGTH2)
    for i in range(8):
        v = str(rng.choice(vals))
        value = v[: rng.randint(1, len(v) + 1)]
        for node in (
            qc.field_query(value, CHUNKLENGTH2, scored=False),
            qc.prefix_query(value, CHUNKLENGTH2),
            qc.wildcard_query(value[:6] + "*", CHUNKLENGTH2),
        ):
            assert _docset(eng.docs(node)) == sorted(orc.docs(node)), (
                i, value,
            )


def test_random_unicode_whitespace_tokens_mode(spark):
    """Tokens-mode fuzz with documents whose separators are RANDOM draws
    from the full canonical whitespace set (incl. NBSP / NEL / LS /
    \\x1c-\\x1f): the distributed engine (Arrow tokenizer + JVM dl/split)
    must produce the same doc-sets AND BM25 ranks as the pure-Python
    oracle (re-based token split) — the three tokenizer implementations
    agreeing on adversarial whitespace is exactly the r3 whitespace
    unification claim."""
    from elasticsearch_analysis_hashsplitter_spark.config import (
        HashSplitterConfig,
    )
    from elasticsearch_analysis_hashsplitter_spark.functions.tokenize import (
        WHITESPACE_CODEPOINTS,
    )

    cfg = HashSplitterConfig(
        chunk_length=4, token_mode="tokens", apply_input_cap=False
    )
    rng = np.random.RandomState(20260817)
    words = ["spark", "join", "window", "merge", "filter", "scan",
             "sort", "batch", "printf", "zephyr"]
    seps = [chr(c) for c in WHITESPACE_CODEPOINTS]
    docs = {}
    for i in range(60):
        k = rng.randint(1, 12)
        toks = rng.choice(words, size=k)
        parts = []
        for t in toks:
            parts.append(str(t))
            parts.append("".join(rng.choice(seps, size=rng.randint(1, 3))))
        docs[i] = "".join(parts) if rng.rand() < 0.5 else "".join(parts).strip()
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, content string"
    )
    eng = SearchEngine.from_corpus(df, cfg, num_partitions=4)
    orc = OracleIndex(docs, cfg)
    for w in words:
        node = qc.field_query(w, cfg, scored=False)
        assert _docset(eng.docs(node)) == sorted(orc.docs(node)), w
        pnode = qc.prefix_query(w[:3], cfg)
        assert _docset(eng.docs(pnode)) == sorted(orc.docs(pnode)), w
    # BM25 rank identity: exercises the dl (dls blob + avgdl) pipeline
    for q in ("spark join", "printf", "zephyr window merge"):
        terms = list(qc.field_query(q, cfg).terms)
        want = orc.bm25_topk(terms, 10, conjunctive=False)
        got = [
            (r["doc_id"], r["score"])
            for r in eng.bm25_topk(terms, 10, conjunctive=False).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (gd, gs), (_, es) in zip(got, want):
            assert gs == pytest.approx(es, rel=1e-9), (q, gd)
