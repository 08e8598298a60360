"""Query compilation (C1-C8): user-level value/pattern -> IR boolean tree.

Behavioral reimplementation of the reference's query rewrites on
``HashSplitterFieldMapper`` (/root/reference/src/main/java/org/elasticsearch/
index/mapper/hashsplitter/HashSplitterFieldMapper.java):

* ``field_query`` / ``field_filter``  — C1/C2 (:402-451)
* ``prefix_query`` / ``prefix_filter``— C3/C4 (:454-529)
* ``range_filter``                    — C6 (:541-713)
* ``wildcard_query`` / ``_filter``    — C7/C8 (:748-795)
* ``chunk_term_query``                — the ``hashsplitter_term`` DSL: one
  raw positioned-chunk term (HashSplitterTermQueryParser.java:96-97)

All of this is pure driver-side Python; the produced IR leaves become
Catalyst-friendly predicates over the postings table (:func:`leaf_sql`).

Documented divergences from the reference (intended-behavior fixes):
1. rangeFilter [null,null] with ``size % chunk_length != 0`` uses prefix
   index ``size // chunk_length`` for the trailing short chunk; the
   reference has a likely off-by-one ``sizeValue/chunkLength + 1``
   (HashSplitterFieldMapper.java:557).
2. Half-open ranges ([null, x] / [x, null]): the reference NPEs (its own
   tests never exercise them); we implement the natural one-sided chain.

3. Bounds diverging only in their FINAL chunk: the reference's three OR
   clauses (lower chain / between band / upper chain,
   HashSplitterFieldMapper.java:648-712) collapse onto one chunk
   position and overlap — its lower chain has no upper limit at that
   level (and vice versa), so the range silently widens to every value
   sharing the common prefix (wrong results even for inclusive bounds;
   exclusive flags ignored). Found by property testing
   (tests/test_semantic_identities.py); the reference's own fixtures
   never expose it. We emit the intended single direct range over the
   final chunk instead; every reference fixture count is unchanged.
"""

from __future__ import annotations

from ..config import HashSplitterConfig
from ..functions.tokenize import analyze
from .ir import (
    And,
    MatchAll,
    MatchNone,
    Node,
    Not,
    Or,
    ScoredTerms,
    TermEq,
    TermPattern,
    TermPrefixLen,
    TermRangeLen,
    simplify,
)
from .pattern import glob_to_regex, literal_prefix, search_chunks


def _analyze_query_value(value: str, cfg: HashSplitterConfig) -> list[str]:
    """Analyze a query-side value with the *index* analyzer (the reference
    analyzes query values with indexAnalyzer, HashSplitterFieldMapper.java
    :406) — A1 whole-value chunking in value mode, the A2 token pipeline
    in tokens mode."""
    return analyze(value, cfg)


def field_query(value: str, cfg: HashSplitterConfig, scored: bool = True) -> Node:
    """C1/C2: exact-match query — AND of one TermEq per chunk.

    Longer stored values still match (documented prefix-match side effect,
    README.md:193-198); an incomplete last chunk in the *stored* value
    kills the match because term text differs.
    """
    terms = _analyze_query_value(value, cfg)
    if not terms:
        return MatchNone()
    if scored:
        return ScoredTerms(tuple(terms))
    return simplify(And([TermEq(t) for t in terms]))


def chunk_term_query(term: str) -> Node:
    """``hashsplitter_term``: raw, unanalyzed single positioned-chunk term."""
    return TermEq(term)


def ids_query(ids) -> Node:
    """ES ``ids`` query/filter (IdsQueryParser): membership in an
    explicit doc-id list — constant-score, composable in bool trees.
    Duplicates collapse; an empty list folds to MatchNone downstream."""
    from .ir import DocIds

    return DocIds(tuple(sorted({int(i) for i in ids})))


def prefix_query(value: str, cfg: HashSplitterConfig) -> Node:
    """C3/C4: prefix query (HashSplitterFieldMapper.java:454-529).

    Full chunks -> TermEq; a short last chunk -> prefix + length bounds:
    ``1+remaining`` when the fixed size ends within this chunk,
    ``1+chunk_length`` mid-value, ``[0, 1+chunk_length]`` when variable.
    """
    terms = _analyze_query_value(value, cfg)
    L = cfg.chunk_length
    clauses: list[Node] = []
    remaining = 0 if cfg.size_is_variable else cfg.size
    for t in terms:
        if len(t) < 1 + L:
            if remaining > 0:  # implies fixed size
                n = remaining if remaining < L else L
                clauses.append(TermPrefixLen(t, 1 + n, 1 + n))
            else:  # variable size: only bound by the chunk length
                clauses.append(TermPrefixLen(t, 0, 1 + L))
        else:
            clauses.append(TermEq(t))
        remaining -= len(t) - 1
    return simplify(And(clauses))


def wildcard_query(pattern: str, cfg: HashSplitterConfig) -> Node:
    """C7/C8: wildcard query — B1 chunk patterns, AND of per-chunk scans.

    Each chunk pattern contains only literals and wildcard_one after
    normalization; a pattern with no wildcards degenerates to TermEq
    (the reference's SingleTermEnum fast path, WildcardQuery.java:66-75).
    """
    chunks = search_chunks(pattern, cfg)
    if not chunks:
        return MatchNone()
    clauses: list[Node] = []
    for c in chunks:
        if cfg.wildcard_one in c or cfg.wildcard_any in c:
            clauses.append(TermPattern(c))
        else:
            clauses.append(TermEq(c))
    return simplify(And(clauses))


def bool_filter(
    must: list[Node] = (),
    should: list[Node] = (),
    must_not: list[Node] = (),
) -> Node:
    """ES bool filter over compiled plugin queries (SURVEY.md §2.5).

    The host API wraps every plugin query in Lucene BooleanFilter
    clauses the plugin itself never rewrites, so semantics are
    inherited unchanged:

    * ``must``      — every clause matches (Occur.MUST),
    * ``should``    — at least one matches when any are given
      (Lucene BooleanFilter requires >=1 SHOULD hit in filter context),
    * ``must_not``  — none may match (Occur.MUST_NOT). A bool of ONLY
      must_not clauses matches the complement — ES adds an implicit
      MatchAllDocsQuery MUST clause; here the same fold yields a bare
      ``Not`` node, which :meth:`SearchEngine.docs` evaluates against
      the full indexed doc set.
    """
    kids: list[Node] = list(must)
    if should:
        kids.append(Or(list(should)))
    if must_not:
        mn = list(must_not)
        # one complement of the union — De Morgan keeps the tree shallow
        # and gives the evaluator a single anti-join side
        kids.append(Not(mn[0] if len(mn) == 1 else Or(mn)))
    if not kids:
        return MatchNone()  # Lucene: an empty BooleanFilter matches nothing
    return simplify(And(kids))


def _len_bounds(remaining: int, L: int) -> tuple[int, int]:
    """Length bounds for a chain's last token, from the remaining fixed-size
    budget (negative budget = variable size): mirrors the three-way branch
    at HashSplitterFieldMapper.java:669-676 / :705-712."""
    if remaining < 0:
        return (0, 1 + L)
    if remaining < L:
        return (1 + remaining, 1 + remaining)
    return (1 + L, 1 + L)


def _term_upper_bound(term: str) -> str:
    """Exclusive upper bound covering all terms at ``term``'s position:
    bump the position-prefix char (HashSplitterFieldMapper.java:714-721)."""
    return chr(ord(term[0]) + 1)


def _term_lower_bound(term: str) -> str:
    """Inclusive-ish lower bound: the position prefix alone (:722-725)."""
    return term[0]


def range_filter(
    lower: str | None,
    upper: str | None,
    include_lower: bool,
    include_upper: bool,
    cfg: HashSplitterConfig,
) -> Node:
    """C6: range filter (HashSplitterFieldMapper.java:541-713).

    Structure: AND(common-prefix TermEq...,
                   OR(lower-bound chain, strictly-between band,
                      upper-bound chain)).
    """
    L = cfg.chunk_length
    # Special case: -infinity..+infinity (:543-560)
    if lower is None and upper is None:
        if cfg.size_is_variable:
            return MatchAll()
        ones = cfg.wildcard_one * L
        clauses: list[Node] = [
            TermPattern(cfg.prefixes[i] + ones)
            for i in range(cfg.size // L - 1, -1, -1)
        ]
        if cfg.size % L != 0:
            # intended prefix index (divergence #1 in module docstring)
            clauses.append(
                TermPattern(
                    cfg.prefixes[cfg.size // L] + ones[: cfg.size % L]
                )
            )
        return simplify(And(clauses))
    # Emptiness checks (:562-576)
    if lower is not None and upper is not None:
        if lower > upper:
            return MatchNone()
        if lower == upper:
            if include_lower and include_upper:
                return field_query(lower, cfg, scored=False)
            return MatchNone()

    lowers = _analyze_query_value(lower, cfg) if lower is not None else []
    uppers = _analyze_query_value(upper, cfg) if upper is not None else []

    top = And([])
    remaining_lo = 0 if cfg.size_is_variable else cfg.size
    remaining_up = 0 if cfg.size_is_variable else cfg.size

    # Common prefix (:626-639). Iterator-faithful port: consume one token
    # from each side; the last available token on either side never joins
    # the prefix; stop at the first divergence.
    li = ui = 0
    curr_lo: str | None = None
    curr_up: str | None = None
    while li < len(lowers) and ui < len(uppers):
        curr_lo = lowers[li]
        li += 1
        curr_up = uppers[ui]
        ui += 1
        if li >= len(lowers) or ui >= len(uppers):
            break
        if curr_lo != curr_up:
            break
        top.children.append(TermEq(curr_lo))
        remaining_lo -= len(curr_lo) - 1
        remaining_up -= len(curr_up) - 1

    # Half-open ranges never enter the loop above: prime the iterators.
    if lowers and curr_lo is None:
        curr_lo = lowers[0]
        li = 1
    if uppers and curr_up is None:
        curr_up = uppers[0]
        ui = 1

    # Divergence at the FINAL chunk of both bounds (divergence note #3):
    # the reference's three OR clauses collapse onto one position and
    # overlap (its lower chain has no upper limit at that level and vice
    # versa), silently widening the range. Intended semantics is a single
    # direct range over that chunk position.
    if (
        lowers
        and uppers
        and li == len(lowers)
        and ui == len(uppers)
        and curr_lo != curr_up
    ):
        lo_b = _len_bounds(remaining_lo, L)
        up_b = _len_bounds(remaining_up, L)
        top.children.append(
            TermRangeLen(
                curr_lo,
                curr_up,
                include_lower,
                include_upper,
                min(lo_b[0], up_b[0]),
                max(lo_b[1], up_b[1]),
            )
        )
        return simplify(top)

    sub_prefix_lower = curr_lo  # lower side's diverging token (may be None)
    second_or = Or([])
    top.children.append(second_or)

    # --- lower-bound chain (:648-678) ---
    if lowers:
        last = And([])
        if li < len(lowers):
            last.children.append(TermEq(curr_lo))
            remaining_lo -= len(curr_lo) - 1
            curr_lo = lowers[li]
            li += 1
        second_or.children.append(last)
        while li < len(lowers):
            or_f = Or([])
            last.children.append(or_f)
            or_f.children.append(
                TermRangeLen(
                    curr_lo, _term_upper_bound(curr_lo), False, False, 1 + L, 1 + L
                )
            )
            nxt = And([TermEq(curr_lo)])
            or_f.children.append(nxt)
            last = nxt
            remaining_lo -= len(curr_lo) - 1
            curr_lo = lowers[li]
            li += 1
        lo_b = _len_bounds(remaining_lo, L)
        last.children.append(
            TermRangeLen(
                curr_lo,
                _term_upper_bound(curr_lo),
                include_lower,
                False,
                lo_b[0],
                lo_b[1],
            )
        )

    # --- strictly-between band (:681-687) ---
    up_first = curr_up  # upper side's diverging token (None if no upper)
    band_lo = sub_prefix_lower
    band_hi = up_first
    if band_lo is not None or band_hi is not None:
        # Unbounded side: constrain to the position-0..this-level prefix
        # space via the position prefix char (divergence #2: the reference
        # NPEs on half-open ranges; we complete the chain naturally).
        if band_lo is None and band_hi is not None:
            band_lo = _term_lower_bound(band_hi)
        if band_hi is None and band_lo is not None:
            band_hi = _term_upper_bound(band_lo)
        up_b = _len_bounds(remaining_up, L)
        second_or.children.append(
            TermRangeLen(band_lo, band_hi, False, False, up_b[0], up_b[1])
        )

    # --- upper-bound chain (:689-712) ---
    if uppers:
        last = And([])
        if ui < len(uppers):
            last.children.append(TermEq(curr_up))
            remaining_up -= len(curr_up) - 1
            curr_up = uppers[ui]
            ui += 1
        second_or.children.append(last)
        while ui < len(uppers):
            or_f = Or([])
            last.children.append(or_f)
            or_f.children.append(
                TermRangeLen(
                    _term_lower_bound(curr_up), curr_up, False, False, 1 + L, 1 + L
                )
            )
            nxt = And([TermEq(curr_up)])
            or_f.children.append(nxt)
            last = nxt
            remaining_up -= len(curr_up) - 1
            curr_up = uppers[ui]
            ui += 1
        up_b = _len_bounds(remaining_up, L)
        last.children.append(
            TermRangeLen(
                _term_lower_bound(curr_up),
                curr_up,
                False,
                include_upper,
                up_b[0],
                up_b[1],
            )
        )

    return simplify(top)


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal that reads the same under
    every parser setting (``spark.sql.parser.escapedStringLiterals``
    changes what a backslash means): its UTF-8 bytes as a binary
    literal, cast to string. The optimizer folds the cast, so a scan
    still pushes ``term = 'x'`` and ``StringStartsWith`` to parquet."""
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


def leaf_sql(leaf: Node, cfg: HashSplitterConfig) -> str:
    """An IR leaf's predicate over a ``term`` column as Spark SQL text —
    the one translation behind the postings scans of the filter paths
    and the percolator's document-term match. A scan built from one
    string skips the few py4j round trips per Column operation, which
    cost more than the scan job itself on a small index."""
    if isinstance(leaf, TermEq):
        return f"term = {sql_str(leaf.term)}"
    if isinstance(leaf, TermPrefixLen):
        c = f"length(term) BETWEEN {leaf.min_len} AND {leaf.max_len}"
        if leaf.prefix:
            c = f"startswith(term, {sql_str(leaf.prefix)}) AND {c}"
        return c
    if isinstance(leaf, TermRangeLen):
        c = f"length(term) BETWEEN {leaf.min_len} AND {leaf.max_len}"
        if leaf.lower is not None:
            op = ">=" if leaf.include_lower else ">"
            c += f" AND term {op} {sql_str(leaf.lower)}"
        if leaf.upper is not None:
            op = "<=" if leaf.include_upper else "<"
            c += f" AND term {op} {sql_str(leaf.upper)}"
        return c
    if isinstance(leaf, TermPattern):
        rx = "^" + glob_to_regex(leaf.pattern, cfg) + "$"
        pre = literal_prefix(leaf.pattern, cfg)
        c = f"term RLIKE {sql_str(rx)}"
        if pre:
            # literal-prefix pushdown: sargable on the term-sorted files
            c = f"startswith(term, {sql_str(pre)}) AND {c}"
        return c
    raise TypeError(f"not a leaf: {leaf!r}")
