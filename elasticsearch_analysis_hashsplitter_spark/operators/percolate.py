"""ES percolate API — reverse search over registered queries.

Reference parity: ES 0.19 ships the percolator
(``org.elasticsearch.index.percolator.PercolatorService``) — queries are
registered under names in the reserved ``_percolator`` index; percolating
a document builds a single-doc in-memory index and runs EVERY registered
query against it, returning the names of the queries that match. The
HashSplitter plugin participates through its mapper exactly as in normal
search: a registered field/prefix/wildcard/range query over a
hashsplitter field compiles through ``HashSplitterFieldMapper``
(fieldQuery :399 / prefixQuery :454 / wildcardQuery :531) into the same
positioned-chunk term tree the forward index uses, so percolation parity
falls out of the shared IR + compiler already golden-tested against the
reference vectors.

Spark-first shape — NOT a doc-at-a-time loop. The forward engine's
single-scan bitmask model (``SearchEngine._docs_bitmask``) is turned
inside out: there the *index terms* are scanned once against all query
leaves; here the *document stream* is scanned once against all
registered-query leaves:

1. driver: compile each registered query to the shared IR, de-duplicate
   leaves ACROSS queries (queries sharing a chunk term pay one join row),
   and assign each (query, leaf) a per-query bit value;
2. one Arrow-kernel tokenize pass over the documents (the same
   ``analyze_series`` kernel the index build uses — zero per-row Python),
   emitting batch-deduped ``(doc_id, term)`` rows;
3. exact ``TermEq`` leaves match via ONE broadcast hash join against the
   tiny (term, qid, bitval) table; enumeration leaves (prefix / range /
   glob — typically few) match via a Catalyst ``when``-array + explode,
   costing zero extra joins;
4. ONE ``bit_or`` aggregation builds per-(doc, query) leaf masks — the
   only shuffle in the whole operator — and a vectorized numpy tree
   evaluator accepts/rejects each mask;
5. queries whose tree matches the all-zero mask (pure MUST_NOT shapes)
   plant a zero-bit row per (doc, query) into the SAME aggregation, so
   every doc reaches the evaluator with its true mask — the match-all-
   minus iteration ES runs for pure-negative bools, paid as extra
   shuffle rows rather than extra plan stages (the operator keeps
   exactly one Exchange regardless of negation).

100 TB story: cost is one tokenize pass + one broadcast join + one
shuffle keyed (doc_id, qid) — rows into the shuffle are bounded by
(matched leaf hits), not |docs| x |queries|. Registered queries are
human-curated (ES percolator indexes hold 1e3-1e5 queries), so the leaf
table broadcasts; if it ever outgrew broadcast the equality join degrades
to a shuffle hash join on ``term`` with no code change, and the
enumeration ``when``-array would shard into OR'd chunks.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import HashSplitterConfig
from ..functions.tokenize import analyze_series
from ..plans import ir
from ..plans.pattern import glob_to_regex, literal_prefix

#: per-query leaf-count cap — masks live in one int64 (same limit as the
#: forward engine's bitmask path, SearchEngine._docs_inner)
MAX_LEAVES = 63

_TERM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
    ]
)

_MATCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("qid", T.IntegerType()),
    ]
)


def _descore(node: ir.Node) -> ir.Node:
    """Rewrite ScoredTerms to plain boolean leaves — percolation is a
    match/no-match decision; ES percolator never scores (it collects
    matching query ids, PercolatorService semantics)."""
    if isinstance(node, ir.ScoredTerms):
        kids: list[ir.Node] = [ir.TermEq(t) for t in sorted(set(node.terms))]
        return ir.And(kids) if node.conjunctive else ir.Or(kids)
    if isinstance(node, ir.And):
        return ir.And([_descore(c) for c in node.children])
    if isinstance(node, ir.Or):
        return ir.Or([_descore(c) for c in node.children])
    if isinstance(node, ir.Not):
        return ir.Not(_descore(node.child))
    return node


def _leaf_condition(leaf: ir.Node, cfg: HashSplitterConfig) -> Column:
    """Enumeration-leaf predicate over a ``term`` column — the same
    bounds the forward engine pushes into its postings scan
    (``SearchEngine._leaf_condition``), here applied to document terms."""
    term = F.col("term")
    if isinstance(leaf, ir.TermPrefixLen):
        c = F.length(term).between(leaf.min_len, leaf.max_len)
        if leaf.prefix:
            c = term.startswith(leaf.prefix) & c
        return c
    if isinstance(leaf, ir.TermRangeLen):
        c = F.length(term).between(leaf.min_len, leaf.max_len)
        if leaf.lower is not None:
            c = c & (
                (term >= leaf.lower)
                if leaf.include_lower
                else (term > leaf.lower)
            )
        if leaf.upper is not None:
            c = c & (
                (term <= leaf.upper)
                if leaf.include_upper
                else (term < leaf.upper)
            )
        return c
    if isinstance(leaf, ir.TermPattern):
        rx = "^" + glob_to_regex(leaf.pattern, cfg) + "$"
        pre = literal_prefix(leaf.pattern, cfg)
        c = term.rlike(rx)
        if pre:
            c = term.startswith(pre) & c
        return c
    raise TypeError(f"not an enumeration leaf: {leaf!r}")


class Percolator:
    """Registered-query store + distributed reverse-search evaluator.

    >>> p = Percolator(spark, cfg)
    >>> p.register("alerts", compile.field_query("deadbeef", cfg,
    ...                                          scored=False))
    >>> p.percolate(docs)          # -> DataFrame(doc_id, query_name)
    """

    def __init__(self, spark: SparkSession, cfg: HashSplitterConfig):
        self.spark = spark
        self.cfg = cfg
        self._queries: dict[str, ir.Node] = {}

    # -- registry (the ES ``_percolator`` index surface) -----------------

    def register(self, name: str, node: ir.Node) -> None:
        """Register a compiled query under ``name`` (ES: index a doc with
        a ``query`` field into ``_percolator/<index>/<name>``)."""
        if not name:
            raise ValueError("percolator query name must be non-empty")
        simplified = ir.simplify(_descore(node))
        if not isinstance(simplified, (ir.MatchAll, ir.MatchNone)):
            n_leaves = len(ir.leaves(simplified))
            if n_leaves > MAX_LEAVES:
                raise ValueError(
                    f"query {name!r} has {n_leaves} leaves; the bitmask "
                    f"evaluator supports at most {MAX_LEAVES}"
                )
        self._queries[name] = simplified

    def unregister(self, name: str) -> None:
        """ES: DELETE ``_percolator/<index>/<name>``."""
        self._queries.pop(name, None)

    @property
    def names(self) -> list[str]:
        return sorted(self._queries)

    # -- evaluation -------------------------------------------------------

    def _doc_terms(self, docs: DataFrame, id_col: str, text_col: str
                   ) -> DataFrame:
        cfg = self.cfg
        src = docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).cast("string").alias("_text"),
        )

        def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                arr = analyze_series(pdf["_text"], cfg)
                offsets = arr.offsets.to_numpy()
                flat = arr.values.to_numpy(zero_copy_only=False)
                ids = np.repeat(
                    pdf["doc_id"].to_numpy(), np.diff(offsets)
                )
                out = pd.DataFrame({"doc_id": ids, "term": flat})
                # batch-local dedup: masks are idempotent under bit_or,
                # but repeated terms would fan the join out needlessly
                yield out.drop_duplicates()

        return src.mapInPandas(tok, schema=_TERM_SCHEMA)

    def percolate(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Match every input doc against every registered query.

        Returns ``DataFrame(doc_id: long, query_name: string)`` — one row
        per (document, matching query), the distributed form of the ES
        percolate response's ``matches`` list. ``doc_id`` values must be
        unique within ``docs``.
        """
        spark = self.spark
        names = self.names
        doc_ids = docs.select(
            F.col(id_col).cast("long").alias("doc_id")
        )
        if not names:
            return doc_ids.where(F.lit(False)).withColumn(
                "query_name", F.lit("")
            )

        # driver-side compile: global leaf dedup + per-query bit values
        itrees: dict[int, tuple] = {}
        zero_qids: list[int] = []          # trees matching the empty mask
        all_qids: list[int] = []           # MatchAll registrations
        eq_rows: list[tuple[str, int, int]] = []      # (term, qid, bitval)
        enum_entries: list[tuple[ir.Node, int, int]] = []
        seen_enum: dict[ir.Node, list[tuple[int, int]]] = {}
        for qid, name in enumerate(names):
            node = self._queries[name]
            if isinstance(node, ir.MatchNone):
                continue
            if isinstance(node, ir.MatchAll):
                all_qids.append(qid)
                continue
            q_leaves = ir.leaves(node)
            # leaves numbered in ir.leaves order, the same scheme as the
            # forward engine's bitmask evaluation
            itrees[qid] = ir.bit_tree(node)
            for bit, leaf in enumerate(q_leaves):
                bitval = 1 << bit
                if isinstance(leaf, ir.TermEq):
                    eq_rows.append((leaf.term, qid, bitval))
                else:
                    enum_entries.append((leaf, qid, bitval))
                    seen_enum.setdefault(leaf, []).append((qid, bitval))
            if bool(
                ir.eval_bits(itrees[qid], lambda i: np.zeros(1, dtype=bool))[0]
            ):
                zero_qids.append(qid)

        terms = self._doc_terms(docs, id_col, text_col)
        pair_frames: list[DataFrame] = []
        if eq_rows:
            eq_df = spark.createDataFrame(
                eq_rows, "term string, qid int, bitval long"
            )
            pair_frames.append(
                terms.join(F.broadcast(eq_df), "term").select(
                    "doc_id", "qid", "bitval"
                )
            )
        if enum_entries:
            # few enumeration leaves -> a when-array beats a theta join:
            # stays inside whole-stage codegen, no extra join operator
            elems = [
                F.when(
                    _leaf_condition(leaf, self.cfg),
                    F.struct(
                        F.lit(qid).alias("qid"),
                        F.lit(bitval).cast("long").alias("bitval"),
                    ),
                )
                for leaf, qid, bitval in enum_entries
            ]
            pair_frames.append(
                terms.select(
                    "doc_id",
                    F.explode(
                        F.filter(
                            F.array(*elems), lambda x: x.isNotNull()
                        )
                    ).alias("h"),
                ).select("doc_id", "h.qid", "h.bitval")
            )

        if zero_qids:
            # pure-negative trees accept the empty mask, so absence of a
            # leaf hit must still reach the evaluator: one zero row per
            # (doc, query) rides the existing shuffle (zero is the
            # bit_or identity, so docs with real hits are unaffected)
            pair_frames.append(
                doc_ids.select(
                    "doc_id",
                    F.explode(
                        F.array(*[F.lit(q) for q in zero_qids])
                    ).alias("qid"),
                    F.lit(0).cast("long").alias("bitval"),
                )
            )

        matched: list[DataFrame] = []
        if pair_frames:
            pairs = pair_frames[0]
            for extra in pair_frames[1:]:
                pairs = pairs.unionByName(extra)
            masks = pairs.groupBy("doc_id", "qid").agg(
                F.bit_or("bitval").alias("bits")
            )

            local_trees = dict(itrees)

            def eval_masks(
                batches: Iterator[pd.DataFrame],
            ) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    if not len(pdf):
                        continue
                    ok = np.zeros(len(pdf), dtype=bool)
                    bits = pdf["bits"].to_numpy()
                    for qid, idx in pdf.groupby("qid").indices.items():
                        qbits = bits[idx]
                        ok[idx] = ir.eval_bits(
                            local_trees[int(qid)],
                            lambda i: (qbits & (1 << i)) != 0,
                        )
                    yield pdf.loc[ok, ["doc_id", "qid"]]

            accepted = masks.mapInPandas(eval_masks, schema=_MATCH_SCHEMA)
            matched.append(accepted)
        for qid in all_qids:
            matched.append(doc_ids.withColumn("qid", F.lit(qid)))
        if not matched:
            return doc_ids.where(F.lit(False)).withColumn(
                "query_name", F.lit("")
            )
        out = matched[0]
        for extra in matched[1:]:
            out = out.unionByName(extra)
        names_df = spark.createDataFrame(
            [(i, n) for i, n in enumerate(names)], "qid int, query_name string"
        )
        return out.join(F.broadcast(names_df), "qid").select(
            "doc_id", "query_name"
        )
