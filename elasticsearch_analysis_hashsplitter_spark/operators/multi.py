"""Multi-index search: one query fanned out over several indexes.

The reference plugin always runs under ES's host search layer, where a
request routinely addresses SEVERAL indices at once (an alias, a
``logs-*`` pattern, or an explicit index list): ES executes the query
against every shard of every addressed index and the coordinating node
merge-sorts the per-shard top-k. Scoring has the two host modes:

* ``query_then_fetch`` (ES default): every index scores with its OWN
  term statistics — fast, but the same document content can rank
  differently depending on which index it sits in.
* ``dfs_query_then_fetch``: a cheap pre-phase gathers global df /
  doc-count / length stats across all addressed indices, and every
  index then scores with the GLOBAL weights — scores are identical to
  what one merged index would produce.

This module is that coordinator, Spark-first: the "shards" are
:class:`~.search.SearchEngine` instances (each already a complete
index over a doc subset), the dfs pre-phase is a driver-side sum of
per-index lexicon point-reads (tiny, cached per engine), and the
coordinator merge is a union of per-index top-k frames followed by one
``TakeOrderedAndProject`` — candidate traffic is <= k rows per index,
never a corpus-sized shuffle, so the fan-out cost is flat in corpus
size and linear in index count (the same property that lets ES search
hundreds of shards per request).

Doc ids are NOT assumed disjoint across indexes (ES doc ids are
per-index); results carry an ``index`` column and the total order
breaks ties (score desc, doc_id asc, index asc) so pagination cursors
stay strict. When the doc spaces ARE disjoint, a dfs-mode search over
the parts is score-identical to a single-index search over the union
corpus — that identity is the correctness gate (``multi_index_search``)
and is pinned to 1e-9 in pytest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import compile as qc
from ..plans import ir
from .search import SearchEngine


class MultiIndexEngine:
    """ES alias/multi-index coordinator over :class:`SearchEngine` s.

    All participating indexes must share one analyzer + BM25 config —
    cross-index scores are only comparable when every index chunks and
    weighs text the same way (ES likewise requires compatible mappings
    for sane multi-index relevance). A config mismatch raises at
    construction rather than producing quietly incomparable scores.
    """

    def __init__(
        self,
        engines: list[SearchEngine],
        names: list[str] | None = None,
    ):
        if not engines:
            raise ValueError("MultiIndexEngine needs at least one engine")
        if names is None:
            names = [f"index_{i}" for i in range(len(engines))]
        if len(names) != len(engines):
            raise ValueError(
                f"{len(names)} names for {len(engines)} engines"
            )
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate index names: {names}")
        cfg0 = engines[0].cfg.to_json()
        for e, n in zip(engines, names):
            if e.cfg.to_json() != cfg0:
                raise ValueError(
                    f"index {n!r} has a different analyzer/BM25 config; "
                    "cross-index scores would not be comparable"
                )
        self.engines = list(engines)
        self.names = list(names)
        self.cfg = engines[0].cfg

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        index_dirs: list[str],
        names: list[str] | None = None,
    ) -> "MultiIndexEngine":
        """Open several on-disk indexes under one coordinator; names
        default to the directory basenames (the ES index names)."""
        if names is None:
            names = [
                os.path.basename(d.rstrip("/")) for d in index_dirs
            ]
        return cls(
            [SearchEngine.open(spark, d) for d in index_dirs], names
        )

    # ------------------------------------------------------------------
    # dfs phase
    # ------------------------------------------------------------------
    def global_term_stats(self, terms: list[str]) -> dict:
        """The dfs_query_then_fetch pre-phase: aggregate doc count,
        average doc length and per-term df over every index. Driver
        side and tiny — each engine answers from its stats scalars and
        its (cached) lexicon point-reads, so the phase costs at most
        one pruned point-lookup job per cold index, independent of
        corpus size. Like ES, the numbers are the per-index STORED
        stats: tombstoned docs keep counting until their index is
        compacted (Lucene stats-stale-until-merge, see
        ``SearchEngine.delete_docs``)."""
        n_docs = sum(e.stats["n_docs"] for e in self.engines)
        total_terms = sum(e.stats["total_terms"] for e in self.engines)
        dfs: dict[str, int] = {}
        for e in self.engines:
            for r in e._term_stats(terms):
                dfs[r["term"]] = dfs.get(r["term"], 0) + r["df"]
        return {
            "n_docs": n_docs,
            "avgdl": (total_terms / n_docs) if n_docs else 0.0,
            "dfs": dfs,
        }

    # ------------------------------------------------------------------
    # scored search
    # ------------------------------------------------------------------
    def search(
        self,
        value: str,
        k: int = 10,
        boost: float = 1.0,
        dfs: bool = True,
        after: tuple | None = None,
    ) -> DataFrame:
        """Conjunctive BM25 top-k across all indexes.

        ``dfs=True`` (default here — it is the mode with a defensible
        cross-index semantics): global weights, so the result is
        exactly the single-merged-index ranking. ``dfs=False`` is ES's
        ``query_then_fetch``: each index scores with local stats —
        cheaper by one cold point-read per index, same docs per index,
        but scores (hence the merged order) depend on how docs were
        split across indexes.

        ``after=(score, doc_id, index)`` — search_after across the
        fan-out: the cursor filters every index's candidates before
        its top-k, and the coordinator merge re-applies the same
        strict (score desc, doc_id asc, index asc) order, so page N
        is exact without re-reading pages 1..N-1.
        """
        node = qc.field_query(value, self.cfg, scored=True)
        if isinstance(node, ir.MatchNone):
            return self._empty()
        terms = list(node.terms)
        return self._merged_topk(terms, k, boost, dfs, True, after)

    def search_any(
        self,
        value: str,
        k: int = 10,
        boost: float = 1.0,
        dfs: bool = True,
        after: tuple | None = None,
    ) -> DataFrame:
        """Disjunctive BM25 top-k across all indexes (docs matching ANY
        analyzed chunk term). Each index runs its exhaustive single
        scan + single shuffle OR plan (:meth:`SearchEngine.search_any`)."""
        node = qc.field_query(value, self.cfg, scored=True)
        if isinstance(node, ir.MatchNone):
            return self._empty()
        terms = list(node.terms)
        return self._merged_topk(terms, k, boost, dfs, False, after)

    def _merged_topk(
        self,
        terms: list[str],
        k: int,
        boost: float,
        dfs: bool,
        conjunctive: bool,
        after: tuple | None,
    ) -> DataFrame:
        if after is not None and len(after) != 3:
            raise ValueError(
                "multi-index after cursor is (score, doc_id, index) — "
                "(score, doc_id) is not unique across indexes"
            )
        gs = self.global_term_stats(terms) if dfs else None
        parts = []
        for e, name in zip(self.engines, self.names):
            if after is not None:
                s, d, idx_name = float(after[0]), int(after[1]), after[2]
                # per-index cursor: strictly-after rows, plus the
                # cursor row's own (score, doc_id) for indexes that
                # order after the cursor index in the tie-break
                topk = e.bm25_topk(
                    terms,
                    k + 1,
                    conjunctive=conjunctive,
                    boost=boost,
                    after=(s, d - 1),
                    global_stats=gs,
                )
                topk = topk.where(
                    (F.col("score") < s)
                    | (F.col("doc_id") > d)
                    | (
                        (F.col("doc_id") == d)
                        & (F.lit(name > idx_name))
                    )
                )
            else:
                topk = e.bm25_topk(
                    terms,
                    k,
                    conjunctive=conjunctive,
                    boost=boost,
                    global_stats=gs,
                )
            parts.append(topk.withColumn("index", F.lit(name)))
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        return (
            merged.orderBy(
                F.col("score").desc(),
                F.col("doc_id").asc(),
                F.col("index").asc(),
            )
            .limit(k)
            .select("doc_id", "score", "index")
        )

    def search_batch(
        self,
        values: dict[str, str],
        k: int = 10,
        conjunctive: bool = True,
        dfs: bool = True,
    ) -> DataFrame:
        """ES ``_msearch`` against the alias: top-k for MANY value
        queries over every index in ONE job per shard plus one
        coordinator merge — the multi-index form of the single-index
        batch kernel (``bm25_topk_batch``), and the answer to the
        measured per-query coordinator overhead (each single query
        pays ~shard_count x fixed pipeline cost; a batch amortizes it
        across all queries).

        Plan: one dfs phase over the union of every query's terms,
        per-shard batch scoring with the GLOBAL weights (exhaustive
        scan per shard — the prune bounds are engine-local, see
        ``_batch_scores``; a shard holds 1/N of the alias so the scan
        is proportionally small), union of <= k rows per (query,
        shard), one window re-rank to the final per-query top-k.
        Returns (query_id, doc_id, score, rank, index), ordering per
        query identical to :meth:`search` on the same value."""
        qmap: dict[str, list[str]] = {}
        for qid, value in values.items():
            node = qc.field_query(value, self.cfg, scored=True)
            if isinstance(node, ir.ScoredTerms):
                qmap[qid] = list(node.terms)
        frame = self._ranked_batch_frame(qmap, k, conjunctive, dfs)
        return frame if frame is not None else self._empty_batch()

    def _ranked_batch_frame(
        self,
        qmap: dict[str, list[str]],
        k: int,
        conjunctive: bool = True,
        dfs: bool = True,
    ) -> DataFrame | None:
        """The ONE copy of the alias batch fan-out/merge (consumed by
        :meth:`search_batch` and the serving path): dfs phase over the
        union of the term bags, per-shard batch kernels with the
        global weights, union, window re-rank. The tie-break here
        (score desc, doc_id asc, index asc) must stay identical to
        :meth:`search`'s coordinator merge. None when nothing can
        match."""
        from pyspark.sql import Window

        from .search import bm25_topk_batch

        qmap = {q: ts for q, ts in qmap.items() if ts}
        if not qmap:
            return None
        gs = (
            self.global_term_stats(
                sorted({t for ts in qmap.values() for t in ts})
            )
            if dfs
            else None
        )
        parts = [
            bm25_topk_batch(
                e, qmap, k, conjunctive=conjunctive, global_stats=gs
            ).withColumn("index", F.lit(name))
            for e, name in zip(self.engines, self.names)
        ]
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(),
            F.col("doc_id").asc(),
            F.col("index").asc(),
        )
        return (
            merged.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank", "index")
        )

    def _batch_collect_terms(
        self, qmap: dict[str, list[str]], k: int
    ) -> dict:
        """Serving half of :meth:`search_batch` over PRE-ANALYZED term
        bags (the coalescer dedups concurrent clients on analyzed
        terms, so values never reach this layer): per-shard batch
        scoring with the dfs weights, one window merge, one collect —
        returns query_key -> [(doc_id, score, index), ...] in rank
        order. Shares the fan-out/merge with :meth:`search_batch`
        (:meth:`_ranked_batch_frame`)."""
        frame = self._ranked_batch_frame(qmap, k)
        if frame is None:
            return {}
        rows = frame.orderBy("query_id", "rank").collect()
        out: dict = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"], r["index"])
            )
        return out

    def serve(
        self,
        requests,
        k: int = 10,
        max_workers: int = 8,
        pool_prefix: str = "hashsplitter-mserve",
        window_ms: float = 12.0,
        max_batch: int = 64,
        n_lanes: int = 2,
        result_cache: bool = False,
    ) -> dict:
        """Concurrent serving against the ALIAS: N client threads, the
        same adaptive coalescing dispatcher as
        :meth:`SearchEngine.serve`, but each drained wave executes as
        ONE :meth:`search_batch`-shaped alias job (per-shard batch
        kernels + one merge window) — the ES model of concurrent
        searches against a multi-shard index. Answers are pinned to
        :meth:`search` per value: same dfs weights, same (score desc,
        doc_id asc, index asc) order; returns query_id -> list of
        (doc_id, score, index)."""
        import concurrent.futures as cf

        from .search import ServeCoalescer

        items = (
            list(requests.items())
            if isinstance(requests, dict)
            else list(requests)
        )
        # warm every shard's term-stats cache with one point-read per
        # engine up front (same rationale as SearchEngine.serve)
        warm: list[str] = []
        seen: set[str] = set()
        for _, v in items:
            node = qc.field_query(v, self.cfg, scored=True)
            if isinstance(node, ir.ScoredTerms):
                for t in node.terms:
                    if t not in seen:
                        seen.add(t)
                        warm.append(t)
        if warm:
            for e in self.engines:
                e._term_stats(warm)

        coal = ServeCoalescer(
            self.engines[0],
            k=k,
            window_ms=window_ms,
            max_batch=max_batch,
            pool=pool_prefix,
            n_lanes=n_lanes,
            # the cache lives on engines[0] but the epoch below covers
            # EVERY member index, so any shard's delete/layout change
            # invalidates cached alias answers
            result_cache=result_cache,
            batch_collect_fn=self._batch_collect_terms,
            epoch_fn=lambda: tuple(
                (e._layout_epoch, e._deletes_epoch) for e in self.engines
            ),
        )
        try:
            with cf.ThreadPoolExecutor(max_workers=max_workers) as ex:
                futs = [
                    (qid, ex.submit(coal.request, value))
                    for qid, value in items
                ]
                return {qid: f.result() for qid, f in futs}
        finally:
            coal.close()

    def _empty_batch(self) -> DataFrame:
        return self.engines[0].spark.createDataFrame(
            [],
            "query_id string, doc_id long, score double, "
            "rank int, index string",
        )

    def indices_search(
        self,
        indices: list[str],
        value: str,
        no_match: str = "none",
        k: int = 10,
        boost: float = 1.0,
        dfs: bool = True,
    ) -> DataFrame:
        """ES 0.19 ``indices`` query (IndicesQueryParser): indexes in
        ``indices`` run the main ``value`` query; every other index
        runs the ``no_match`` branch — ``"none"`` (skip, ES
        no_match_query=none), ``"all"`` (match_all, the ES default —
        constant score ``boost``), or another value string (that
        value's conjunctive query). Index names never addressed by
        this coordinator are simply inert, like ES concrete-name
        matching against an alias's member list.

        Scoring follows this coordinator's dfs model: one driver-side
        global-stats phase over the UNION of both branches' terms, so
        every branch scores with the same global weights and the
        merged order is well-defined (ES query_then_fetch local stats
        via ``dfs=False``). Plan: per-index top-k (each its own
        single-scan + single-shuffle pipeline, <= k rows out), one
        union, one TakeOrderedAndProject — fan-out cost flat in corpus
        size, exactly like :meth:`search`."""
        sel = set(indices)
        node_m = qc.field_query(value, self.cfg, scored=True)
        main_terms = (
            list(node_m.terms)
            if isinstance(node_m, ir.ScoredTerms)
            else []
        )
        nm_terms: list[str] = []
        if no_match not in ("none", "all"):
            node_n = qc.field_query(no_match, self.cfg, scored=True)
            if isinstance(node_n, ir.ScoredTerms):
                nm_terms = list(node_n.terms)
        gs = (
            self.global_term_stats(sorted({*main_terms, *nm_terms}))
            if dfs
            else None
        )
        parts = []
        for e, name in zip(self.engines, self.names):
            if name in sel:
                if not main_terms:
                    continue
                topk = e.bm25_topk(
                    main_terms, k, boost=boost, global_stats=gs
                )
            elif no_match == "none":
                continue
            elif no_match == "all":
                topk = e.match_all(k=k, boost=boost)
            else:
                if not nm_terms:
                    continue
                topk = e.bm25_topk(
                    nm_terms, k, boost=boost, global_stats=gs
                )
            parts.append(topk.withColumn("index", F.lit(name)))
        if not parts:
            return self._empty()
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        return (
            merged.orderBy(
                F.col("score").desc(),
                F.col("doc_id").asc(),
                F.col("index").asc(),
            )
            .limit(k)
            .select("doc_id", "score", "index")
        )

    # ------------------------------------------------------------------
    # unscored surfaces: filters, counts, facets fan out per index
    # ------------------------------------------------------------------
    def docs(self, node: ir.Node) -> DataFrame:
        """(doc_id, index) union of every index's live match set."""
        parts = [
            e.docs(node).withColumn("index", F.lit(n))
            for e, n in zip(self.engines, self.names)
        ]
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        return merged

    def term(self, value: str) -> DataFrame:
        return self.docs(qc.field_query(value, self.cfg, scored=False))

    def prefix(self, value: str) -> DataFrame:
        return self.docs(qc.prefix_query(value, self.cfg))

    def wildcard(self, pattern: str) -> DataFrame:
        return self.docs(qc.wildcard_query(pattern, self.cfg))

    def range(
        self,
        lower: str | None,
        upper: str | None,
        include_lower: bool = True,
        include_upper: bool = True,
    ) -> DataFrame:
        return self.docs(
            qc.range_filter(
                lower, upper, include_lower, include_upper, self.cfg
            )
        )

    def count(self, node: ir.Node) -> int:
        """ES ``_count`` across indexes: per-index counts summed on the
        driver (each is its own pruned aggregation; no cross-index
        shuffle exists to pay)."""
        return sum(e.count(node) for e in self.engines)

    def _empty(self) -> DataFrame:
        e = self.engines[0]
        return e._empty_scored().withColumn(
            "index", F.lit("")
        ).select("doc_id", "score", "index")
