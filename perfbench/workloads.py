"""The two benchmark workloads: their generated inputs, their op
sequences, how each read runs against the engine, and the independent
reference every answer is checked against.

Both workloads are one closed-loop client running rounds of reads
followed by one upsert batch and a reopen, so every layer — compile,
plan/exec, the serving coalescer, the write path — runs on both. What
differs is the data:

* ``hash_lookup``: one md5 value per doc, indexed as a fixed-size hash
  field. Every chunk term is a singleton block and no lookup value
  repeats, so no engine cache helps; time goes to the query rewrite,
  term-dictionary reads and the fixed per-job cost. Upserts insert new
  values only, so they append a segment and never purge.
* ``ingest_search``: synthetic source files. The vocabulary's chunk
  terms sit on large blocks and all fit the driver's term-stats cache;
  time goes to scanning, decoding and BM25 scoring, and each upsert
  replaces half its ids, so it also pays the purge and stats rebuild.
"""

from __future__ import annotations

import fnmatch
import hashlib
import math
import random
from dataclasses import dataclass

from elasticsearch_analysis_hashsplitter_spark import corpus
from elasticsearch_analysis_hashsplitter_spark.config import (
    CODE_CORPUS,
    HashSplitterConfig,
)
from elasticsearch_analysis_hashsplitter_spark.functions.tokenize import (
    analyze,
    term_freqs,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
from elasticsearch_analysis_hashsplitter_spark.plans import ir

K = 10
#: every op whose answer is a scored top-k list
SCORED = ("search", "search_any", "serve")


@dataclass(frozen=True)
class Op:
    kind: str
    arg: tuple


class Reference:
    """Pure-Python model of the live index: doc texts plus a BM25
    inverted file (Lucene-style idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``,
    saturation ``tf (k1 + 1) / (tf + k1 (1 - b + b dl / avgdl))``),
    updated by the same upsert batches the engine receives."""

    def __init__(self, docs: dict[int, str], cfg: HashSplitterConfig):
        self.cfg = cfg
        self.text: dict[int, str] = {}
        self.tf: dict[int, dict[str, int]] = {}
        self.postings: dict[str, dict[int, int]] = {}
        self.total = 0
        self.upsert(docs)

    def upsert(self, docs: dict[int, str]) -> None:
        for d, text in docs.items():
            old = self.tf.pop(d, {})
            for t in old:
                del self.postings[t][d]
                if not self.postings[t]:
                    del self.postings[t]
            self.total -= sum(old.values())
            tf = term_freqs(text, self.cfg)
            self.text[d] = text
            self.tf[d] = tf
            self.total += sum(tf.values())
            for t, n in tf.items():
                self.postings.setdefault(t, {})[d] = n

    def matching(self, pred) -> list[int]:
        return sorted(d for d, v in self.text.items() if pred(v))

    def bm25(self, value: str, conjunctive: bool) -> dict[int, float]:
        """doc -> score of every doc the analyzed value matches."""
        terms = analyze(value, self.cfg)
        if not terms:
            return {}
        weights: dict[str, int] = {}
        for t in terms:
            weights[t] = weights.get(t, 0) + 1
        sets = [set(self.postings.get(t, ())) for t in weights]
        cand = set.intersection(*sets) if conjunctive else set.union(*sets)
        n = len(self.text)
        avgdl = self.total / n
        k1, b = self.cfg.bm25_k1, self.cfg.bm25_b
        idf = {}
        for t in weights:
            df = len(self.postings.get(t, ()))
            idf[t] = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        out = {}
        for d in cand:
            dl = sum(self.tf[d].values())
            s = 0.0
            for t in sorted(weights):
                tf = self.tf[d].get(t, 0)
                if tf:
                    s += weights[t] * idf[t] * tf * (k1 + 1.0) / (
                        tf + k1 * (1.0 - b + b * dl / avgdl)
                    )
            out[d] = s
        return out


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def topk_ok(got: list, ref: dict[int, float], k: int = K) -> bool:
    """``got`` [(doc_id, score)] is a correct top-k of ``ref``: scores
    equal to 1e-9, order (score desc, doc_id asc), and nothing left
    out that outranks the last hit. Ties within 1e-9 order by doc id,
    so float-sum-order differences cannot flip a comparison."""
    if len(got) != min(k, len(ref)):
        return False
    for i, (d, s) in enumerate(got):
        if d not in ref or not _close(s, ref[d]):
            return False
        if i:
            pd_, ps = got[i - 1]
            if not (ps > s or _close(ps, s)):
                return False
            if _close(ps, s) and pd_ >= d:
                return False
    if not got:
        return True
    seen = {d for d, _ in got}
    last_d, last_s = got[-1]
    for d, s in ref.items():
        if d in seen:
            continue
        if s > last_s and not _close(s, last_s):
            return False
        if _close(s, last_s) and d < last_d:
            return False
    return True


class Workload:
    """One workload's inputs and ops. Subclasses fix the data."""

    name: str
    cfg: HashSplitterConfig
    n_docs: int
    batch_size: int
    #: share of each upsert batch that replaces existing ids
    replace_share: float
    #: read kinds of one round, in order; an upsert closes each round
    round_kinds: tuple[str, ...]
    warmup_kinds: tuple[str, ...]

    def __init__(self, seed: int):
        self.seed = seed

    # --- inputs ------------------------------------------------------
    def docs_frame(self, spark):
        """The corpus to index, as a DataFrame (doc_id, text)."""
        raise NotImplementedError

    def docs_dict(self, frame) -> dict[int, str]:
        pdf = frame.toPandas()
        return dict(zip(pdf["doc_id"].tolist(), pdf["text"].tolist()))

    def batches(self, spark, n: int) -> list[dict[int, str]]:
        """``n`` upsert batches: ``replace_share`` of each replaces
        existing ids (never the same id twice), the rest are new ids."""
        raise NotImplementedError

    def _batch_ids(self, n: int) -> list[list[int]]:
        rng = random.Random(f"{self.seed}/batch-ids")
        n_old = int(self.batch_size * self.replace_share)
        n_new = self.batch_size - n_old
        replaced = rng.sample(range(self.n_docs), n * n_old)
        return [
            replaced[k * n_old : (k + 1) * n_old]
            + list(range(self.n_docs + k * n_new,
                         self.n_docs + (k + 1) * n_new))
            for k in range(n)
        ]

    # --- ops ---------------------------------------------------------
    def ops(self, stream: str, kinds) -> "OpStream":
        return OpStream(self, random.Random(f"{self.seed}/{stream}"), kinds)

    def make_op(self, rng: random.Random, kind: str) -> Op:
        raise NotImplementedError

    def compile(self, op: Op) -> ir.Node:
        """The positioned-chunk rewrite of the op's input."""
        raise NotImplementedError

    def plan(self, eng, op: Op):
        """Engine call for a non-served read; returns its DataFrame."""
        raise NotImplementedError

    def normalize(self, op: Op, rows) -> list:
        if op.kind in SCORED:
            return [(int(r[0]), float(r[1])) for r in rows]
        return sorted(int(r[0]) for r in rows)

    def check(self, ref: Reference, op: Op, answer: list) -> bool:
        raise NotImplementedError


class OpStream:
    """Endless fixed op sequence: the round kinds, cycled, with
    arguments drawn from one seeded stream."""

    def __init__(self, wl: Workload, rng: random.Random, kinds):
        self.wl, self.rng, self.kinds = wl, rng, tuple(kinds)
        self.i = 0

    def next(self) -> Op:
        kind = self.kinds[self.i % len(self.kinds)]
        self.i += 1
        return self.wl.make_op(self.rng, kind)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


class HashLookup(Workload):
    name = "hash_lookup"
    cfg = HashSplitterConfig(chunk_length=4, size=32)
    n_docs = 2000
    batch_size = 100
    # new content arrives under new hashes: inserts only, so an upsert
    # appends a segment and never purges
    replace_share = 0.0
    round_kinds = (
        "term", "prefix", "wildcard", "serve",
        "term", "prefix", "wildcard", "range",
        "term", "prefix", "wildcard", "serve",
    )
    warmup_kinds = ("term", "prefix", "wildcard", "serve")

    def __init__(self, seed: int):
        super().__init__(seed)
        self.values = [_md5(f"{seed}/doc/{i}") for i in range(self.n_docs)]
        self._present = random.Random(f"{seed}/present").sample(
            range(self.n_docs), self.n_docs
        )
        self._absent = 0

    def docs_frame(self, spark):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": range(self.n_docs), "text": self.values}
            ),
            "doc_id long, text string",
        )

    def docs_dict(self, frame) -> dict[int, str]:
        return dict(enumerate(self.values))

    def batches(self, spark, n: int) -> list[dict[int, str]]:
        return [
            {d: _md5(f"{self.seed}/upsert/{k}/{d}") for d in ids}
            for k, ids in enumerate(self._batch_ids(n))
        ]

    def _value(self, rng: random.Random) -> str:
        """A value never drawn before: one of the indexed values (two
        in three) or an md5 that was never indexed."""
        if rng.random() < 2 / 3 and self._present:
            return self.values[self._present.pop()]
        self._absent += 1
        return _md5(f"{self.seed}/absent/{self._absent}")

    def make_op(self, rng: random.Random, kind: str) -> Op:
        v = self._value(rng)
        if kind in ("term", "serve"):
            return Op(kind, (v,))
        if kind == "prefix":
            return Op(kind, (v[: rng.randint(3, 8)],))
        if kind == "wildcard":
            cut = rng.randint(8, 20)
            chars = list(v[:cut])
            for pos in rng.sample(range(1, cut), 2):
                chars[pos] = "?"
            return Op(kind, ("".join(chars) + "*",))
        # a range sharing a 10-char prefix with an indexed value
        return Op(kind, (v, v[:10] + "f" * 22))

    def compile(self, op: Op) -> ir.Node:
        a = op.arg
        if op.kind == "term":
            return qc.field_query(a[0], self.cfg, scored=False)
        if op.kind == "serve":
            return qc.field_query(a[0], self.cfg, scored=True)
        if op.kind == "prefix":
            return qc.prefix_query(a[0], self.cfg)
        if op.kind == "wildcard":
            return qc.wildcard_query(a[0], self.cfg)
        return qc.range_filter(a[0], a[1], True, True, self.cfg)

    def plan(self, eng, op: Op):
        a = op.arg
        if op.kind == "term":
            return eng.term(a[0])
        if op.kind == "prefix":
            return eng.prefix(a[0])
        if op.kind == "wildcard":
            return eng.wildcard(a[0])
        return eng.range(a[0], a[1])

    def check(self, ref: Reference, op: Op, answer: list) -> bool:
        a = op.arg
        if op.kind == "serve":
            return topk_ok(answer, ref.bm25(a[0], conjunctive=True))
        if op.kind == "term":
            want = ref.matching(lambda v: v == a[0])
        elif op.kind == "prefix":
            want = ref.matching(lambda v: v.startswith(a[0]))
        elif op.kind == "wildcard":
            want = ref.matching(lambda v: fnmatch.fnmatchcase(v, a[0]))
        else:
            want = ref.matching(lambda v: a[0] <= v <= a[1])
        return answer == want


class IngestSearch(Workload):
    name = "ingest_search"
    cfg = CODE_CORPUS
    n_docs = 1500
    batch_size = 100
    replace_share = 0.5
    round_kinds = ("search", "search_any", "serve") * 4
    warmup_kinds = ("search", "search_any", "serve")

    def __init__(self, seed: int):
        super().__init__(seed)
        # query tokens follow a Zipf-like law over the generator's
        # vocabulary in its listed order; the ranking is the same for
        # every seed, so seeds vary the draws, not the query mix
        self.vocab = corpus._VOCAB.tolist()
        self.weights = [1.0 / (r + 1) for r in range(len(self.vocab))]
        self._drawn: dict[str, int] = {}

    def docs_frame(self, spark):
        return corpus.generate_corpus(
            spark, self.n_docs, seed=self.seed
        ).selectExpr("doc_id", "content AS text")

    def batches(self, spark, n: int) -> list[dict[int, str]]:
        pool = (
            corpus.generate_corpus(
                spark, n * self.batch_size, seed=self.seed + 1
            )
            .select("content")
            .toPandas()["content"]
            .tolist()
        )
        return [
            dict(zip(ids, pool[k * len(ids) : (k + 1) * len(ids)]))
            for k, ids in enumerate(self._batch_ids(n))
        ]

    def make_op(self, rng: random.Random, kind: str) -> Op:
        # 1, 2, 3 tokens in turn per kind, so every run (whatever its
        # seed) reads the same mix of query lengths
        i = self._drawn.get(kind, 0)
        self._drawn[kind] = i + 1
        toks = rng.choices(self.vocab, weights=self.weights, k=1 + i % 3)
        return Op(kind, (" ".join(toks),))

    def compile(self, op: Op) -> ir.Node:
        return qc.field_query(op.arg[0], self.cfg, scored=True)

    def plan(self, eng, op: Op):
        if op.kind == "search":
            return eng.search(op.arg[0], K)
        return eng.search_any(op.arg[0], K)

    def check(self, ref: Reference, op: Op, answer: list) -> bool:
        return topk_ok(
            answer, ref.bm25(op.arg[0], conjunctive=op.kind != "search_any")
        )


WORKLOADS = {w.name: w for w in (HashLookup, IngestSearch)}
