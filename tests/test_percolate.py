"""Percolator (ES 0.19 reverse search) vs a pure-Python evaluator.

The distributed operator (broadcast leaf join + one bit_or shuffle +
numpy tree eval, operators/percolate.py) must agree with a direct
per-doc IR interpretation over the token set produced by the same
golden-tested analyzer (functions/tokenize.analyze).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_hashsplitter_spark.config import (
    HashSplitterConfig,
)
from elasticsearch_analysis_hashsplitter_spark.functions.tokenize import (
    analyze,
)
from elasticsearch_analysis_hashsplitter_spark.operators.percolate import (
    MAX_LEAVES,
    Percolator,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
from elasticsearch_analysis_hashsplitter_spark.plans import ir

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)

DOCS = [
    (1, "spark join engine"),
    (2, "window functions and frames"),
    (3, "spark only here"),
    (4, "nothing relevant at all"),
    (5, ""),
    (6, "sparkling sharp stars"),
    (7, "join without the other word"),
    (8, "spark join spark join repeated"),
]


def _py_match(node: ir.Node, terms: set[str]) -> bool:
    """Direct IR interpretation over one doc's term set (the single-doc
    memory-index semantics of ES PercolatorService)."""
    if isinstance(node, ir.MatchNone):
        return False
    if isinstance(node, ir.MatchAll):
        return True
    if isinstance(node, ir.TermEq):
        return node.term in terms
    if isinstance(node, ir.TermPrefixLen):
        return any(
            t.startswith(node.prefix)
            and node.min_len <= len(t) <= node.max_len
            for t in terms
        )
    if isinstance(node, ir.TermRangeLen):
        def ok(t: str) -> bool:
            if not (node.min_len <= len(t) <= node.max_len):
                return False
            if node.lower is not None:
                if t < node.lower or (t == node.lower
                                      and not node.include_lower):
                    return False
            if node.upper is not None:
                if t > node.upper or (t == node.upper
                                      and not node.include_upper):
                    return False
            return True
        return any(ok(t) for t in terms)
    if isinstance(node, ir.TermPattern):
        import re

        from elasticsearch_analysis_hashsplitter_spark.plans.pattern import (
            glob_to_regex,
        )

        rx = re.compile("^" + glob_to_regex(node.pattern, CFG) + "$")
        return any(rx.match(t) for t in terms)
    if isinstance(node, ir.ScoredTerms):
        wanted = set(node.terms)
        return (
            wanted <= terms if node.conjunctive else bool(wanted & terms)
        )
    if isinstance(node, ir.And):
        return all(_py_match(c, terms) for c in node.children)
    if isinstance(node, ir.Or):
        return any(_py_match(c, terms) for c in node.children)
    if isinstance(node, ir.Not):
        return not _py_match(node.child, terms)
    raise TypeError(node)


QUERIES = {
    "has_spark": qc.field_query("spark", CFG, scored=False),
    "has_spark_scored_node": qc.field_query("spark join", CFG, scored=True),
    "windo_prefix": qc.prefix_query("windo", CFG),
    "sar_wild": qc.wildcard_query("s?ar*", CFG),
    "spark_not_join": qc.bool_filter(
        must=[qc.field_query("spark", CFG, scored=False)],
        must_not=[qc.field_query("join", CFG, scored=False)],
    ),
    "no_spark": qc.bool_filter(
        must_not=[qc.field_query("spark", CFG, scored=False)]
    ),
    "spark_or_window": qc.bool_filter(
        should=[
            qc.field_query("spark", CFG, scored=False),
            qc.field_query("window", CFG, scored=False),
        ]
    ),
    "everything": ir.MatchAll(),
    "nothing": ir.MatchNone(),
}


def _expected() -> set[tuple[int, str]]:
    out = set()
    for doc_id, text in DOCS:
        terms = set(analyze(text, CFG))
        for name, node in QUERIES.items():
            if _py_match(node, terms):
                out.add((doc_id, name))
    return out


@pytest.fixture(scope="module")
def perc(spark):
    p = Percolator(spark, CFG)
    for name, node in QUERIES.items():
        p.register(name, node)
    return p


def test_percolate_matches_python_oracle(spark, perc):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        (r.doc_id, r.query_name)
        for r in perc.percolate(docs).collect()
    }
    assert got == _expected()


def test_zero_mask_complement_covers_termless_docs(spark, perc):
    # doc 5 is empty: it produces no chunk terms at all, so it can only
    # surface through the complement path — and must, for no_spark,
    # everything, and the pure-should bool it fails
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        r.query_name
        for r in perc.percolate(docs).collect()
        if r.doc_id == 5
    }
    assert got == {"no_spark", "everything"}


def test_empty_registry_and_unregister(spark):
    p = Percolator(spark, CFG)
    docs = spark.createDataFrame(DOCS[:2], "doc_id long, text string")
    assert p.percolate(docs).count() == 0
    p.register("q", qc.field_query("spark", CFG, scored=False))
    assert p.percolate(docs).count() == 1
    p.unregister("q")
    assert p.percolate(docs).count() == 0
    assert p.names == []


def test_leaf_cap_enforced(spark):
    p = Percolator(spark, CFG)
    big = ir.Or([ir.TermEq(f"At{i:03d}") for i in range(MAX_LEAVES + 1)])
    with pytest.raises(ValueError, match="leaves"):
        p.register("too_big", big)
    # exactly at the cap is fine
    p.register(
        "at_cap",
        ir.Or([ir.TermEq(f"At{i:03d}") for i in range(MAX_LEAVES)]),
    )


def test_shared_leaves_across_queries(spark):
    # two queries sharing the same TermEq leaf: one broadcast row per
    # (term, query) — both must still answer independently
    p = Percolator(spark, CFG)
    p.register("a", qc.field_query("spark", CFG, scored=False))
    p.register(
        "b",
        qc.bool_filter(
            must=[qc.field_query("spark", CFG, scored=False)],
            must_not=[qc.field_query("engine", CFG, scored=False)],
        ),
    )
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {(r.doc_id, r.query_name) for r in p.percolate(docs).collect()}
    assert got == {
        (1, "a"), (3, "a"), (8, "a"),
        (3, "b"), (8, "b"),
    }


def test_value_mode_percolation(spark):
    # A1 whole-value chunking (hash-field mode): percolate md5-like
    # fixed values against an exact field query and a prefix query
    cfg = HashSplitterConfig(chunk_length=4, size=32, apply_input_cap=False)
    vals = [
        (1, "00000000111111112222222233333333"),
        (2, "00000000111111112222222244444444"),
        (3, "ffffffff111111112222222233333333"),
    ]
    p = Percolator(spark, cfg)
    p.register("exact", qc.field_query(vals[0][1], cfg, scored=False))
    p.register("pre", qc.prefix_query("000000001111", cfg))
    docs = spark.createDataFrame(vals, "doc_id long, text string")
    got = {
        (r.doc_id, r.query_name)
        for r in p.percolate(docs, text_col="text").collect()
    }
    assert got == {(1, "exact"), (1, "pre"), (2, "pre")}


def test_single_shuffle_plan(spark, perc):
    # the whole operator is one bit_or aggregation: the physical plan for
    # the accepted-masks branch must contain exactly one Exchange below
    # the eval (complement anti-joins add broadcast exchanges only)
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = perc.percolate(docs)._jdf.queryExecution().executedPlan().toString()
    import re

    shuffles = re.findall(r"Exchange (hashpartitioning|rangepartitioning)",
                          plan)
    assert len(shuffles) == 1, plan


@pytest.mark.parametrize("escaped_literals", ["false", "true"])
def test_enumeration_literals_survive_quotes_backslashes_and_parser_mode(
    spark, escaped_literals
):
    """Prefix, wildcard and range leaves reach the document-term match
    as SQL text (``compile.leaf_sql``): literals holding a quote or a
    backslash must select exactly the values they name, whatever
    ``spark.sql.parser.escapedStringLiterals`` says."""
    import fnmatch
    import random

    cfg = HashSplitterConfig(chunk_length=4, size=32, apply_input_cap=False)
    rng = random.Random(11)
    values = ["".join(rng.choice("ab'\\") for _ in range(32))
              for _ in range(40)]
    v = values[7]
    pat = v[:3] + "?" + v[4:9] + "*"
    hi = v[:10] + "b" * 22
    cases = {
        "prefix": (qc.prefix_query(v[:5], cfg),
                   lambda x: x.startswith(v[:5])),
        "wildcard": (qc.wildcard_query(pat, cfg),
                     lambda x: fnmatch.fnmatchcase(x, pat)),
        "range": (qc.range_filter(v, hi, True, True, cfg),
                  lambda x: v <= x <= hi),
    }
    assert all("'" in s and "\\" in s for s in (v[:5], pat, hi))
    p = Percolator(spark, cfg)
    for name, (node, _) in cases.items():
        p.register(name, node)
    docs = spark.createDataFrame(list(enumerate(values)),
                                 "doc_id long, text string")
    want = {(d, name) for name, (_, pred) in cases.items()
            for d, x in enumerate(values) if pred(x)}
    assert {(7, name) for name in cases} <= want
    prev = spark.conf.get("spark.sql.parser.escapedStringLiterals")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped_literals)
    try:
        got = {(r.doc_id, r.query_name)
               for r in p.percolate(docs, text_col="text").collect()}
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", prev)
    assert got == want
