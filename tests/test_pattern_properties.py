"""Property-based invariants for the pattern compiler + oracle semantics
(no Spark): a pattern derived from a stored value by legal masking must
match that value's index terms; compiled chunk patterns are structurally
valid; normalization is idempotent in the '*'-free domain."""

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from elasticsearch_analysis_hashsplitter_spark.config import (
    CL4_LOWER_FIXED16,
    HashSplitterConfig,
)
from elasticsearch_analysis_hashsplitter_spark.functions.tokenize import (
    term_freqs,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
from elasticsearch_analysis_hashsplitter_spark.plans import ir
from elasticsearch_analysis_hashsplitter_spark.plans.pattern import (
    glob_to_regex,
    normalize_pattern,
    search_chunks,
)

from .oracle import OracleIndex

HEX = "0123456789abcdef"
CFG = CL4_LOWER_FIXED16  # chunk 4, fixed size 16


@st.composite
def value_and_mask(draw):
    value = "".join(
        draw(st.lists(st.sampled_from(HEX), min_size=16, max_size=16))
    )
    mask = draw(
        st.lists(st.booleans(), min_size=16, max_size=16)
    )
    return value, mask


@given(value_and_mask())
@example(("0000000000000000", [True] * 16))
@settings(max_examples=150, deadline=None)
def test_masked_pattern_matches_own_value(vm):
    value, mask = vm
    pattern = "".join("?" if m else c for c, m in zip(value, mask))
    idx = OracleIndex({0: value}, CFG)
    node = qc.wildcard_query(pattern, CFG)
    if all(mask):
        # the reference skips every all-'?' chunk and MUSTs the rest
        # into a BooleanQuery; with no chunk left that query has no
        # clause, and a clause-less BooleanQuery matches nothing
        assert isinstance(node, ir.MatchNone), pattern
        assert 0 not in idx.docs(node), pattern
    else:
        assert 0 in idx.docs(node), (value, pattern)


@given(value_and_mask(), st.integers(min_value=1, max_value=15))
@settings(max_examples=150, deadline=None)
def test_prefix_star_matches_own_value(vm, cut):
    value, _ = vm
    pattern = value[:cut] + "*"
    idx = OracleIndex({0: value}, CFG)
    assert 0 in idx.docs(qc.wildcard_query(pattern, CFG)), (value, pattern)


@given(value_and_mask(), st.integers(min_value=1, max_value=15))
@settings(max_examples=150, deadline=None)
def test_suffix_star_matches_own_value_fixed_size(vm, cut):
    value, _ = vm
    pattern = "*" + value[cut:]
    idx = OracleIndex({0: value}, CFG)
    assert 0 in idx.docs(qc.wildcard_query(pattern, CFG)), (value, pattern)


@given(value_and_mask())
@settings(max_examples=100, deadline=None)
def test_chunk_patterns_are_structurally_valid(vm):
    value, mask = vm
    pattern = "".join("?" if m else c for c, m in zip(value, mask))
    chunks = search_chunks(pattern, CFG)
    P = CFG.prefixes
    for c in chunks:
        assert c[0] in P  # position prefix from the alphabet
        assert 1 <= len(c) <= 1 + CFG.chunk_length
        assert c[1:] != "?" * CFG.chunk_length  # all-? chunks are skipped


@given(st.text(alphabet=HEX + "?*", min_size=0, max_size=24))
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent_and_star_free(pat):
    n1 = normalize_pattern(pat, CFG)
    assert "*" not in n1
    assert len(n1) % CFG.chunk_length == 0
    # a '*'-free normalized pattern re-normalizes to itself
    assert normalize_pattern(n1, CFG) == n1


@given(st.text(alphabet=HEX + "?", min_size=1, max_size=10))
@settings(max_examples=200, deadline=None)
def test_glob_regex_matches_glob_semantics(pat):
    rx = re.compile(glob_to_regex(pat, CFG))
    # pattern with ? replaced by any literal must match
    concrete = pat.replace("?", "a")
    assert rx.fullmatch(concrete)
    # length discipline: ?-globs match only equal-length strings
    assert not rx.fullmatch(concrete + "a")
    if len(concrete) > 1:
        assert not rx.fullmatch(concrete[:-1])
