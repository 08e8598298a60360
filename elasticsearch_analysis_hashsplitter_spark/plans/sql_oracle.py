"""IR -> ANSI SQL translation for the DuckDB correctness oracle.

The engine's query *compiler* is golden-tested against the reference
vectors (tests/test_pattern.py, test_query_compile.py); this module lets
the driver's DuckDB gate verify the *distributed execution* of the same
compiled tree: it renders an IR node as set algebra (INTERSECT / UNION)
over a ``chunks(doc_id, term)`` CTE that re-derives the positioned-chunk
terms in pure SQL.
"""

from __future__ import annotations

from ..config import HashSplitterConfig
from ..functions.tokenize import WS_RUN_REGEX
from . import ir
from .pattern import glob_to_regex


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def chunks_cte_tokens(cfg: HashSplitterConfig, docs_table: str = "documents",
                      id_col: str = "doc_id", text_col: str = "text") -> str:
    """chunks CTE for token_mode='tokens' (whitespace split, per-token
    positioned chunks). DuckDB dialect.

    Tokenization splits on ``WS_RUN_REGEX`` — the explicit class of
    exactly the codepoints the engine's Arrow tokenizer splits on (incl.
    U+00A0/U+2028/U+3000 and \\x1C-\\x1F) — NOT RE2's ASCII ``\\s``:
    with ``\\s`` any non-ASCII-whitespace fixture silently diverged from
    correct engine output (r2 advisor)."""
    L = cfg.chunk_length
    return f"""
toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_split_to_array({text_col}, '{WS_RUN_REGEX}')) AS tok
  FROM {docs_table}
),
toks2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
chunks AS (
  SELECT doc_id,
         substr({_q(cfg.prefixes)}, ((i - 1) % {cfg.prefix_count}) + 1, 1)
           || substr(tok, (i - 1) * {L} + 1, {L}) AS term
  FROM (
    SELECT doc_id, tok,
           unnest(generate_series(1, CAST(ceil(length(tok) / {L}.0) AS INT))) AS i
    FROM toks2
  ) t
)"""


def docs_select(node: ir.Node, cfg: HashSplitterConfig,
                all_docs_sql: str = "SELECT DISTINCT doc_id FROM chunks") -> str:
    """Render an IR node as a SELECT of matching doc_ids over ``chunks``."""
    node = ir.simplify(node)
    return _render(node, cfg, all_docs_sql)


def _leaf_where(node: ir.Node, cfg: HashSplitterConfig) -> str:
    if isinstance(node, ir.TermEq):
        return f"term = {_q(node.term)}"
    if isinstance(node, ir.TermPrefixLen):
        conds = [f"length(term) BETWEEN {node.min_len} AND {node.max_len}"]
        if node.prefix:
            conds.append(f"starts_with(term, {_q(node.prefix)})")
        return " AND ".join(conds)
    if isinstance(node, ir.TermRangeLen):
        conds = [f"length(term) BETWEEN {node.min_len} AND {node.max_len}"]
        if node.lower is not None:
            op = ">=" if node.include_lower else ">"
            conds.append(f"term {op} {_q(node.lower)}")
        if node.upper is not None:
            op = "<=" if node.include_upper else "<"
            conds.append(f"term {op} {_q(node.upper)}")
        return " AND ".join(conds)
    if isinstance(node, ir.TermPattern):
        rx = "^" + glob_to_regex(node.pattern, cfg) + "$"
        return f"regexp_matches(term, {_q(rx)})"
    raise TypeError(node)


def _render(node: ir.Node, cfg: HashSplitterConfig, all_docs_sql: str) -> str:
    if isinstance(node, ir.MatchNone):
        return "SELECT doc_id FROM chunks WHERE 1=0"
    if isinstance(node, ir.MatchAll):
        return all_docs_sql
    if isinstance(node, ir.ScoredTerms):
        terms = sorted(set(node.terms))
        in_list = ", ".join(_q(t) for t in terms)
        if node.conjunctive:
            return (
                "SELECT doc_id FROM chunks WHERE term IN (" + in_list + ") "
                f"GROUP BY doc_id HAVING count(DISTINCT term) = {len(terms)}"
            )
        return (
            "SELECT DISTINCT doc_id FROM chunks WHERE term IN ("
            + in_list + ")"
        )
    if isinstance(node, ir.DocIds):
        in_list = ", ".join(str(int(i)) for i in node.ids)
        # index membership is part of the semantics: ids never ingested
        # match nothing, so restrict the explicit list to the doc set
        return (
            "SELECT doc_id FROM (" + all_docs_sql + ") _ids "
            f"WHERE doc_id IN ({in_list})"
        )
    if isinstance(node, ir.And):
        parts = [
            "(" + _render(c, cfg, all_docs_sql) + ")" for c in node.children
        ]
        return "SELECT doc_id FROM (" + " INTERSECT ".join(parts) + ") _i"
    if isinstance(node, ir.Or):
        parts = [
            "(" + _render(c, cfg, all_docs_sql) + ")" for c in node.children
        ]
        return "SELECT doc_id FROM (" + " UNION ".join(parts) + ") _u"
    if isinstance(node, ir.Not):
        # Lucene MUST_NOT: the complement against the full doc set.
        return (
            "SELECT doc_id FROM ((" + all_docs_sql + ") EXCEPT ("
            + _render(node.child, cfg, all_docs_sql) + ")) _n"
        )
    # leaf
    return (
        "SELECT DISTINCT doc_id FROM chunks WHERE "
        + _leaf_where(node, cfg)
    )
