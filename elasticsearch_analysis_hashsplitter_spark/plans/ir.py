"""Query IR: boolean trees over term-level scan leaves.

The leaves mirror the reference's custom Lucene operators
(/root/reference/src/main/java/org/apache/lucene/search/):

* ``TermEq``        — TermQuery/TermFilter (single posting-list lookup)
* ``TermPrefixLen`` — PrefixLengthQuery/Filter (PrefixLengthQuery.java:5-37):
                      term startswith + term length in [min_len, max_len]
* ``TermRangeLen``  — TermRangeLengthQuery/Filter (TermRangeLengthQuery.java:
                      3-35): term in range + length bounds
* ``TermPattern``   — WildcardQuery/Filter with configurable wildcards
                      (WildcardQuery.java:38-134, WildcardTermEnum.java:32-188)
* ``MatchNone``     — MatchNoDocsFilter (MatchNoDocsFilter.java:29-53)
* ``MatchAll``      — all documents (engine extension for open ranges)

Interior nodes are AND / OR (the only shapes the reference's own
BooleanQuery/BooleanFilter trees use: MUST-only or SHOULD-only) plus
``Not`` — the ES/Lucene bool ``must_not`` clause the host API wraps
around every plugin query (SURVEY.md §2.5: semantics inherited from
Lucene's BooleanClause.Occur.MUST_NOT, which the plugin's queries
compose with untouched). A bare ``Not(x)`` means "every document not
matching x" — exactly how ES executes a bool with only must_not
clauses (it adds an implicit MatchAllDocsQuery MUST clause).
``ScoredTerms`` is the scored (BM25) flavor of an all-MUST term
conjunction — the C1/C7 query path.

All lengths include the 1-char position prefix (the reference passes
``1 + chunkLength`` style bounds).
"""

from __future__ import annotations

import itertools
import operator
from dataclasses import dataclass, field
from functools import reduce


class Node:
    """Base class for IR nodes."""

    __slots__ = ()


@dataclass(frozen=True)
class TermEq(Node):
    term: str


@dataclass(frozen=True)
class TermPrefixLen(Node):
    prefix: str
    min_len: int
    max_len: int


@dataclass(frozen=True)
class TermRangeLen(Node):
    lower: str | None  # None = unbounded
    upper: str | None
    include_lower: bool
    include_upper: bool
    min_len: int
    max_len: int


@dataclass(frozen=True)
class TermPattern(Node):
    """Glob over the term dictionary; wildcards per engine config."""

    pattern: str


@dataclass(frozen=True)
class DocIds(Node):
    """ES ``ids`` query: membership in an explicit doc-id list
    (IdsQueryParser / IdsFilterParser — constant-score, composable in
    bool trees). Unlike every other leaf this predicate reads the doc
    id itself, not the term dictionary, so the engine evaluates it
    against the doc-stats table instead of the postings scan."""

    ids: tuple[int, ...]


@dataclass(frozen=True)
class MatchNone(Node):
    pass


@dataclass(frozen=True)
class MatchAll(Node):
    pass


@dataclass
class And(Node):
    children: list[Node] = field(default_factory=list)


@dataclass
class Or(Node):
    children: list[Node] = field(default_factory=list)


@dataclass
class Not(Node):
    """Complement: documents NOT matching ``child`` (Lucene MUST_NOT)."""

    child: Node = field(default_factory=MatchNone)


@dataclass(frozen=True)
class ScoredTerms(Node):
    """BM25-scored conjunction of exact chunk terms (C1 scored path).

    ``conjunctive``: doc must contain every distinct term (Lucene
    BooleanQuery all-MUST). Term multiplicity contributes weight
    (a duplicated clause scores twice), hence ``terms`` is a tuple.
    """

    terms: tuple[str, ...]
    conjunctive: bool = True


def simplify(node: Node) -> Node:
    """Constant-fold MatchAll/MatchNone and collapse trivial And/Or.

    The reference folds the analogous cases at compile time
    (HashSplitterFieldMapper.java:562-576); we extend folding to the whole
    tree so no Spark job is submitted for statically-empty queries.
    """
    if isinstance(node, And):
        kids = []
        for c in node.children:
            c = simplify(c)
            if isinstance(c, MatchNone):
                return MatchNone()
            if isinstance(c, MatchAll):
                continue
            if isinstance(c, And):
                kids.extend(c.children)
            else:
                kids.append(c)
        if not kids:
            # Lucene: an empty BooleanQuery/BooleanFilter matches nothing.
            return MatchNone()
        if len(kids) == 1:
            return kids[0]
        return And(kids)
    if isinstance(node, Or):
        kids = []
        for c in node.children:
            c = simplify(c)
            if isinstance(c, MatchAll):
                return MatchAll()
            if isinstance(c, MatchNone):
                continue
            if isinstance(c, Or):
                kids.extend(c.children)
            else:
                kids.append(c)
        if not kids:
            return MatchNone()
        if len(kids) == 1:
            return kids[0]
        return Or(kids)
    if isinstance(node, Not):
        c = simplify(node.child)
        if isinstance(c, MatchAll):
            return MatchNone()
        if isinstance(c, MatchNone):
            return MatchAll()
        if isinstance(c, Not):  # double negation; c.child is simplified
            return c.child
        return Not(c)
    if isinstance(node, DocIds) and not node.ids:
        # ES: an ids query with no values matches nothing
        return MatchNone()
    return node


def render(node: Node) -> str:
    """Human-readable rewrite of an IR tree — the ``explanation``
    string of the ES ``_validate/query?explain=true`` response (ES
    prints the rewritten Lucene query; this prints the compiled chunk
    plan, which is the analogous post-analysis form)."""
    if isinstance(node, TermEq):
        return f"term:{node.term}"
    if isinstance(node, TermPrefixLen):
        return (
            f"prefix:{node.prefix}*[len {node.min_len}-{node.max_len}]"
        )
    if isinstance(node, TermRangeLen):
        lo = "*" if node.lower is None else node.lower
        hi = "*" if node.upper is None else node.upper
        lb = "[" if node.include_lower else "{"
        rb = "]" if node.include_upper else "}"
        return (
            f"range:{lb}{lo} TO {hi}{rb}"
            f"[len {node.min_len}-{node.max_len}]"
        )
    if isinstance(node, TermPattern):
        return f"pattern:{node.pattern}"
    if isinstance(node, DocIds):
        return "ids:(" + " ".join(str(i) for i in node.ids) + ")"
    if isinstance(node, MatchNone):
        return "MatchNoDocsQuery"
    if isinstance(node, MatchAll):
        return "MatchAllDocsQuery"
    if isinstance(node, ScoredTerms):
        op = " AND " if node.conjunctive else " OR "
        return (
            "scored("
            + op.join(f"term:{t}" for t in node.terms)
            + ")"
        )
    if isinstance(node, And):
        return "(" + " AND ".join(render(c) for c in node.children) + ")"
    if isinstance(node, Or):
        return "(" + " OR ".join(render(c) for c in node.children) + ")"
    if isinstance(node, Not):
        return "NOT " + render(node.child)
    raise TypeError(node)


def leaves(node: Node) -> list[Node]:
    if isinstance(node, (And, Or)):
        out: list[Node] = []
        for c in node.children:
            out.extend(leaves(c))
        return out
    if isinstance(node, Not):
        return leaves(node.child)
    return [node]


def bit_tree(node: Node) -> tuple:
    """The boolean shape of ``node`` with every leaf replaced by its bit
    position in :func:`leaves` order: ``("and" | "or", [subtrees])``,
    ``("not", subtree)`` or ``("leaf", i)``. Plain tuples, so the shape
    ships to Spark workers independent of Python object identity."""
    bits = itertools.count()

    def walk(n: Node) -> tuple:
        if isinstance(n, (And, Or)):
            kind = "and" if isinstance(n, And) else "or"
            return (kind, [walk(c) for c in n.children])
        if isinstance(n, Not):
            return ("not", walk(n.child))
        return ("leaf", next(bits))

    return walk(node)


def eval_bits(tree: tuple, leaf):
    """Evaluate a :func:`bit_tree` with ``leaf(i)`` standing for leaf i.
    Leaf values combine only through ``~``, ``&`` and ``|``, so one walk
    serves numpy bool arrays (driver and pandas kernels) and Spark
    ``Column`` predicates (Catalyst) alike."""
    kind, payload = tree
    if kind == "leaf":
        return leaf(payload)
    if kind == "not":
        return ~eval_bits(payload, leaf)
    parts = [eval_bits(c, leaf) for c in payload]
    return reduce(operator.and_ if kind == "and" else operator.or_, parts)
