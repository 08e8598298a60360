"""Build internals: the Catalyst-only dl expression must equal the
tokenizer's term count exactly (BM25 avgdl depends on it), and the
segmented build's block rows must reconstruct the exact posting lists."""

import numpy as np

from pyspark.sql import functions as F

from elasticsearch_analysis_hashsplitter_spark.config import (
    CL4_LOWER_FIXED16,
    HashSplitterConfig,
)
from elasticsearch_analysis_hashsplitter_spark.functions.codec import (
    decode_counts,
    decode_doc_ids,
)
from elasticsearch_analysis_hashsplitter_spark.functions.tokenize import (
    term_freqs,
)
from elasticsearch_analysis_hashsplitter_spark.operators.build import (
    build_postings_blocks_segmented,
    dl_expr,
    tokenize_corpus,
)

TOK_CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

TEXTS = [
    "spark join window",
    "",
    "  leading and trailing  ",
    "one",
    "a bb ccc dddd eeeee ffffff",
    "x" * 5000,
    "tab\tsep\nnewline mixed   spaces",
    # Unicode whitespace: dl_expr must match the tokenizer (advisor r2) —
    # nbsp / line separator / ideographic space split tokens in the Arrow
    # tokenizer and must split them in the JVM dl expression too
    "nbsp separated tokens",
    "line sep and　ideographic",
    "  lead trail ",
]


def test_dl_sources_agree_on_unicode_whitespace(spark):
    """The two dl sources in one index — the JVM dl_expr docstats scan and
    the dls encoded by the Arrow tokenizer into posting blocks — must agree
    for non-ASCII whitespace (U+00A0, U+2028, U+3000)."""
    texts = [t for t in TEXTS if not t.isascii()]
    assert texts
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, content string"
    )
    jvm = {
        r.doc_id: r.dl
        for r in docs.select(
            "doc_id", dl_expr(TOK_CFG, "content").alias("dl")
        ).collect()
    }
    arrow = {
        r.doc_id: r.dl
        for r in tokenize_corpus(docs, TOK_CFG).select("doc_id", "dl").collect()
    }
    assert jvm == arrow
    for i, t in enumerate(texts):
        assert jvm[i] == sum(term_freqs(t, TOK_CFG).values()), (i, t)


def test_dl_expr_matches_tokenizer(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, content string"
    )
    got = {
        r.doc_id: r.dl
        for r in docs.select(
            "doc_id", dl_expr(TOK_CFG, "content").alias("dl")
        ).collect()
    }
    for i, t in enumerate(TEXTS):
        assert got[i] == sum(term_freqs(t, TOK_CFG).values()), (i, t)


def test_dl_expr_value_mode_with_cap(spark):
    cfg = CL4_LOWER_FIXED16  # value mode, cap on
    vals = ["0000111122223333", "  0011  ", "z" * 2000, ""]
    docs = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, content string"
    )
    got = {
        r.doc_id: r.dl
        for r in docs.select(
            "doc_id", dl_expr(cfg, "content").alias("dl")
        ).collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == sum(term_freqs(v, cfg).values()), (i, v)


def test_dl_expr_none_for_custom_pattern():
    cfg = HashSplitterConfig(
        chunk_length=2, token_mode="tokens", token_pattern=r"[a-z]+",
        apply_input_cap=False,
    )
    assert dl_expr(cfg, "content") is None


def test_segmented_blocks_reconstruct_postings(spark):
    rng = np.random.RandomState(3)
    texts = [
        " ".join(rng.choice(["alpha", "beta", "gamma", "delta"], size=20))
        for _ in range(200)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, content string"
    ).repartition(7)  # multiple map segments per term
    blocks = build_postings_blocks_segmented(
        tokenize_corpus(docs, TOK_CFG), 4, block_size=16
    ).collect()
    got: dict[str, dict[int, tuple]] = {}
    for b in blocks:
        ids = decode_doc_ids(b["docs"])
        tfs = decode_counts(b["tfs"])
        dls = decode_counts(b["dls"])
        assert b["min_doc"] == ids[0] and b["max_doc"] == ids[-1]
        assert b["df"] == ids.size and b["max_tf"] == tfs.max()
        assert np.all(np.diff(ids) > 0)  # strictly sorted, no dup docs
        for d, tf, dl in zip(ids, tfs, dls):
            key = int(d)
            assert key not in got.get(b["term"], {}), (b["term"], key)
            got.setdefault(b["term"], {})[key] = (int(tf), int(dl))
    exp: dict[str, dict[int, tuple]] = {}
    for i, t in enumerate(texts):
        fr = term_freqs(t, TOK_CFG)
        dl = sum(fr.values())
        for term, tf in fr.items():
            exp.setdefault(term, {})[i] = (tf, dl)
    assert got == exp


def test_block_min_dl_matches_true_min(spark):
    """min_dl block metadata == the true minimum document length among
    the block's postings (drives the tightened MaxScore upper bound)."""
    docs = spark.createDataFrame(
        [(i, "spark " * (1 + i % 7) + f"u{i}") for i in range(50)],
        "doc_id long, content string",
    )
    from elasticsearch_analysis_hashsplitter_spark.functions.codec import (
        decode_counts,
    )

    segs = build_postings_blocks_segmented(
        tokenize_corpus(docs, TOK_CFG), 4, block_size=8
    ).collect()
    assert segs
    for b in segs:
        dls = decode_counts(bytes(b["dls"]))
        assert b["min_dl"] == dls.min(), b["term"]


def test_run_jobs_concurrently_order_and_errors():
    """run_jobs_concurrently / run_jobs_pool back every overlapped
    sink pair in build/maintenance (r6): results must come back in
    thunk order, a failing thunk's exception must propagate (a
    swallowed write failure would leave a half-written index with a
    manifest), and the degenerate widths must not deadlock."""
    import pytest as _pytest

    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        run_jobs_concurrently,
        run_jobs_pool,
    )

    assert run_jobs_concurrently(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]
    assert run_jobs_concurrently(lambda: "only") == ["only"]
    assert run_jobs_pool([]) == []
    assert run_jobs_pool([lambda i=i: i * i for i in range(10)],
                         max_workers=3) == [i * i for i in range(10)]

    def boom():
        raise ValueError("sink failed")

    with _pytest.raises(ValueError, match="sink failed"):
        run_jobs_concurrently(lambda: 1, boom)
    with _pytest.raises(ValueError, match="sink failed"):
        run_jobs_pool([boom, lambda: 2], max_workers=2)

    # after the first failure, queued thunks never start: their output
    # would be discarded with the failed write
    ran = []
    with _pytest.raises(ValueError, match="sink failed"):
        run_jobs_pool(
            [boom] + [lambda i=i: ran.append(i) for i in range(5)],
            max_workers=1,
        )
    assert ran == []
