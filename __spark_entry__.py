"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 top-k on sf0.001.
``queries()``   — one entry per implemented operator (SURVEY.md §2):
  engine queries (C1/C3/C5-C8, E1, lexicon/postings, BM25) plus the
  training-data pipeline operators (dedup, similarity, text analysis).
``oracle_sql()``— DuckDB-equivalent SQL per query. Engine queries use the
  IR -> SQL translator (plans/sql_oracle.py) over a chunk CTE, so the
  driver verifies the distributed execution of the *same* compiled tree
  whose compiler is golden-tested against the reference vectors; hash
  prefix/range/wildcard queries instead use independent *semantic*
  oracles (LIKE / BETWEEN on the raw value), a strictly stronger check.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_analysis_hashsplitter_spark.config import (
    DEFAULT_PREFIXES,
    HashSplitterConfig,
)
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
)
from elasticsearch_analysis_hashsplitter_spark.functions.tokenize import (
    WS_RUN_REGEX,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
from elasticsearch_analysis_hashsplitter_spark.plans import ir as ir_mod
from elasticsearch_analysis_hashsplitter_spark.plans import sql_oracle

#: per-token positioned chunks over documents.text (A2 / code-corpus mode)
TOK_CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)
#: fixed-size-32 hash field derived as md5(text) (A1 / hash-field mode)
HASH_CFG = HashSplitterConfig(chunk_length=4, size=32, apply_input_cap=False)

BM25_QUERY = "spark join"
_bm25_terms = tuple(qc.field_query(BM25_QUERY, TOK_CFG).terms)

_ENGINES: dict[tuple, SearchEngine] = {}

#: per-session base ON-DISK index of (doc_id, text) under TOK_CFG — the
#: maintenance gates (purge / upsert / update_by_query) each need a
#: mutable on-disk index of the SAME corpus; they hardlink-clone this
#: one base build and mutate their own clone (index files are immutable
#: — every mutation writes new directories and renames a new
#: stats.json in — so clones never alias writes). Same in-session reuse
#: pattern as _ENGINES.
_BASE_IDX: dict[tuple, str] = {}


def _disk_index_clone(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    import shutil
    import tempfile

    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        build_index,
    )
    key = (id(spark), sf_dir)
    if key not in _BASE_IDX:
        base = os.path.join(tempfile.mkdtemp(prefix="hs_gate_base_"), "idx")
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        build_index(docs, TOK_CFG, base, id_col="doc_id", text_col="text")
        _BASE_IDX[key] = base
    dst = os.path.join(tempfile.mkdtemp(prefix=prefix), "idx")
    shutil.copytree(_BASE_IDX[key], dst, copy_function=os.link)
    return dst


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# planted near-duplicate embeddings (judge r1 "planted-duplicate oracle"):
# the driver's embeddings table has no high-cosine pairs (max ~0.46), so LSH
# recall there is parameter-luck, not a verifiable property. Both the Spark
# gate query and the DuckDB oracle deterministically extend the table with
# perturbed copies — integer arithmetic times a dyadic-rational scale
# (2^-8), so both engines compute bit-identical doubles:
#   copy(s, j)[i] = emb[s][i] + PLANT_SCALE * (((s*31 + j*13 + i*7) % 11) - 5)
# * one copy (j=1) of vecs 0..49    -> ids 100000+s  (near-dup pair plants)
# * eleven copies (j=2..12) of vec 0 -> ids 200000+j (ANN neighbor cluster)
# Planted cosines land >=0.985 (verified: no pair in [0.88, 0.92));
# everything unplanted stays <=~0.51, so a 0.9 threshold has a wide
# deterministic margin on both sides.
# ---------------------------------------------------------------------------

PLANT_SCALE = 0.00390625  # 2^-8: dyadic-rational, exact in both engines
PLANT_DUP_N = 50
PLANT_DUP_BASE = 100000
PLANT_CLUSTER_BASE = 200000
#: j=2..12 are distinct mod 11 and disjoint from the dup copy's j=1, so no
#: two planted perturbations of the same source vector coincide
PLANT_CLUSTER_JS = list(range(2, 13))


def _planted_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    def perturb(src: DataFrame, j_col, new_id) -> DataFrame:
        # keep the source id under a distinct name: inside the transform
        # lambda a bare `vec_id` would lateral-alias-resolve to the NEW id
        staged = src.select(
            F.col("vec_id").alias("sid"), j_col.alias("jj"), "embedding"
        )
        return staged.select(
            new_id.alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + F.lit(PLANT_SCALE)
                * (
                    (F.col("sid") * 31 + F.col("jj") * 13 + i * 7) % 11 - 5
                ).cast("double"),
            ).alias("embedding"),
        )

    dup = perturb(
        emb.where(F.col("vec_id") < PLANT_DUP_N),
        F.lit(1),
        F.col("sid") + PLANT_DUP_BASE,
    )
    clus_src = emb.where(F.col("vec_id") == 0).select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(*[F.lit(j) for j in PLANT_CLUSTER_JS])
        ).alias("j"),
    )
    clus = perturb(clus_src, F.col("j"), F.lit(PLANT_CLUSTER_BASE) + F.col("jj"))
    # one evaluation per gate: every consumer (index build, candidate
    # scan, exact-verify vector joins) re-ran the three-way union +
    # perturb lambdas otherwise (r6; the table is bands x ~1k rows)
    return emb.unionByName(dup).unionByName(clus).localCheckpoint(
        eager=False
    )


def _planted_cte() -> str:
    """DuckDB CTE producing the identical planted union (``allv``)."""
    js = ", ".join(str(j) for j in PLANT_CLUSTER_JS)
    return f"""
emb AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
dup AS (
  SELECT vec_id + {PLANT_DUP_BASE} AS vec_id, pe AS embedding FROM (
    SELECT vec_id, list_transform(embedding, (x, i) ->
      x + ({PLANT_SCALE})::DOUBLE *
          (((vec_id*31 + 1*13 + (i-1)*7) % 11) - 5)) AS pe
    FROM emb WHERE vec_id < {PLANT_DUP_N}) s
),
clus AS (
  SELECT {PLANT_CLUSTER_BASE} + j AS vec_id, pe AS embedding FROM (
    SELECT js.j AS j, list_transform(e.embedding, (x, i) ->
      x + ({PLANT_SCALE})::DOUBLE *
          (((e.vec_id*31 + js.j*13 + (i-1)*7) % 11) - 5)) AS pe
    FROM emb e, (SELECT unnest([{js}]) AS j) js
    WHERE e.vec_id = 0) s
),
allv AS (
  SELECT * FROM emb UNION ALL SELECT * FROM dup UNION ALL SELECT * FROM clus
)"""


def _engine(spark: SparkSession, sf_dir: str, mode: str) -> SearchEngine:
    key = (id(spark), sf_dir, mode)
    if key not in _ENGINES:
        docs = _docs(spark, sf_dir)
        if mode == "tokens":
            _ENGINES[key] = SearchEngine.from_corpus(
                docs, TOK_CFG, id_col="doc_id", text_col="text"
            )
        else:
            hashed = docs.select("doc_id", F.md5("text").alias("hash"))
            _ENGINES[key] = SearchEngine.from_corpus(
                hashed, HASH_CFG, id_col="doc_id", text_col="hash"
            )
    return _ENGINES[key]


def _sorted_docs(df: DataFrame) -> DataFrame:
    return df.select(F.col("doc_id").cast("long").alias("doc_id")).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 documents and run a
    BM25 top-10 conjunctive query."""
    eng = _engine(spark, "/root/testdata/sf0.001", "tokens")
    return eng.search(BM25_QUERY, k=10).select(
        "doc_id", F.round("score", 4).alias("score")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_lexicon(spark, sf_dir):
    eng = _engine(spark, sf_dir, "tokens")
    return (
        eng.postings.groupBy("term")
        .agg(F.sum("df").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(100)
    )


def _q_term(spark, sf_dir):
    return _sorted_docs(_engine(spark, sf_dir, "tokens").term("spark"))


def _q_chunk_term(spark, sf_dir):
    return _sorted_docs(_engine(spark, sf_dir, "tokens").chunk_term("Aspar"))


def _q_prefix(spark, sf_dir):
    return _sorted_docs(_engine(spark, sf_dir, "tokens").prefix("windo"))


def _q_wildcard_prefix(spark, sf_dir):
    return _sorted_docs(_engine(spark, sf_dir, "tokens").wildcard("s?ar*"))


def _q_wildcard_mid(spark, sf_dir):
    return _sorted_docs(_engine(spark, sf_dir, "tokens").wildcard("c?stomer"))


def _q_bm25(spark, sf_dir):
    eng = _engine(spark, sf_dir, "tokens")
    return eng.search(BM25_QUERY, k=10).select(
        "doc_id", F.round("score", 4).alias("score")
    )


def _q_bm25_or(spark, sf_dir):
    eng = _engine(spark, sf_dir, "tokens")
    return eng.search_any(BM25_QUERY, k=10).select(
        "doc_id", F.round("score", 4).alias("score")
    )


#: ES bool must_not exclusion used by the three bool gates: everything
#: the "windo" prefix query matches (the same node the prefix gate runs)
def _excl_node():
    return qc.prefix_query("windo", TOK_CFG)


def _q_bool_must_not(spark, sf_dir):
    """ES bool filter: must (exact value) + must_not (prefix) — the
    single-scan bitmask path with a NOT arm (zero vector unsatisfied)."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.bool_filter(
        must=[qc.field_query("spark", TOK_CFG, scored=False)],
        must_not=[_excl_node()],
    )
    return _sorted_docs(eng.docs(node))


def _q_bool_pure_not(spark, sf_dir):
    """ES bool of ONLY must_not clauses — the implicit match_all
    complement (zero-bits widening over every indexed doc)."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.bool_filter(
        must_not=[
            _excl_node(),
            qc.field_query("spark", TOK_CFG, scored=False),
        ]
    )
    return _sorted_docs(eng.docs(node))


def _q_bm25_excluded(spark, sf_dir):
    """Scored bool must + must_not: BM25 ranks the survivors, excluded
    docs are filtered (never scored), survivor scores untouched."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.search(BM25_QUERY, k=10, must_not=_excl_node()).select(
        "doc_id", F.round("score", 4).alias("score")
    )


def _q_bm25_msm(spark, sf_dir):
    """Lucene minimumNumberShouldMatch over the disjunctive scored
    query: a doc must match >= 2 distinct query terms."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.search_any(BM25_QUERY, k=10, min_should_match=2).select(
        "doc_id", F.round("score", 4).alias("score")
    )


BATCH_QUERIES = ["spark", "join", "window", "merge", "customer"]


def _q_bm25_batch(spark, sf_dir):
    from elasticsearch_analysis_hashsplitter_spark.operators.search import (
        bm25_topk_batch,
    )

    eng = _engine(spark, sf_dir, "tokens")
    qmap = {
        f"q_{t}": list(qc.field_query(t, TOK_CFG).terms)
        for t in BATCH_QUERIES
    }
    out = bm25_topk_batch(eng, qmap, k=10)
    return out.select(
        "query_id",
        "doc_id",
        F.round("score", 4).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("query_id", "rank")


def _q_bm25_page2(spark, sf_dir):
    """ES search_after deep pagination: hits 11-20 via the page-1
    cursor (raw-score tuple), vs the oracle's OFFSET on the same strict
    total order."""
    eng = _engine(spark, sf_dir, "tokens")
    page1 = eng.search(BM25_QUERY, k=10).collect()
    cur = (page1[-1]["score"], page1[-1]["doc_id"])
    return eng.search(BM25_QUERY, k=10, after=cur).select(
        "doc_id", F.round("score", 4).alias("score")
    )


def _q_search_fetch(spark, sf_dir):
    """ES _source fetch: BM25 top-10 joined back to the corpus columns
    (broadcast hash join, doc_id filter pushed to the source scan)."""
    eng = _engine(spark, sf_dir, "tokens")
    top = eng.search(BM25_QUERY, k=10).select(
        "doc_id", F.round("score", 4).alias("score")
    )
    return eng.fetch(
        top, _docs(spark, sf_dir), ["lang", "n_chars"]
    ).orderBy(F.col("score").desc(), F.col("doc_id"))


def _q_lang_facet(spark, sf_dir):
    """ES terms facet: lang value counts over the docs matching the
    conjunctive BM25_QUERY doc set."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.field_query(BM25_QUERY, TOK_CFG, scored=False)
    return eng.terms_facet(node, _docs(spark, sf_dir), "lang", size=10)


def _q_global_facet(spark, sf_dir):
    """ES 0.19 facet ``"global": true``: the facet ignores the main
    query and aggregates over the WHOLE index (hits still reflect the
    query — the gate pins the facet half). Engine-side that is the
    same terms_facet over MatchAll; tombstones would still mask at
    the docs() boundary."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.terms_facet(
        ir_mod.MatchAll(), _docs(spark, sf_dir), "lang", size=10
    )


#: query_facet clauses: a conjunctive value, a prefix clause, and a
#: no-match value (the zero-count row ES still renders)
QUERY_FACETS = {
    "join_q": "join",       # field query
    "none_q": "zzzznomatch",  # matches nothing -> count 0
}
QUERY_FACET_PREFIX = ("wind_p", "wind")  # prefix facet


def _query_facet_nodes():
    out = {
        n: qc.field_query(v, TOK_CFG, scored=False)
        for n, v in QUERY_FACETS.items()
    }
    name, pfx = QUERY_FACET_PREFIX
    out[name] = qc.prefix_query(pfx, TOK_CFG)
    return out


def _q_query_facet(spark, sf_dir):
    """ES query/filter facet: per named facet, count of docs matching
    main AND facet; a no-match facet still emits its zero row."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.field_query(BM25_QUERY, TOK_CFG, scored=False)
    return eng.query_facet(node, _query_facet_nodes())


def _q_terms_stats_facet(spark, sf_dir):
    """ES terms_stats facet: per-lang stats of n_chars over the
    BM25_QUERY doc set (count desc / term asc, 0.19 default order)."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.field_query(BM25_QUERY, TOK_CFG, scored=False)
    return eng.terms_stats_facet(
        node, _docs(spark, sf_dir), "lang", "n_chars", size=10
    )


def _q_date_histogram_facet(spark, sf_dir):
    """ES date_histogram facet (month buckets) over the BM25_QUERY doc
    set. The corpus carries no timestamp, so the gate derives one
    deterministically (2020-01-01 + doc_id % 400 days — the planted-
    data pattern the embedding gates use); both engines bucket with
    date_trunc('month') and render the key as yyyy-MM-dd."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.field_query(BM25_QUERY, TOK_CFG, scored=False)
    src = _docs(spark, sf_dir).select(
        "doc_id",
        F.date_add(
            F.lit("2020-01-01").cast("date"),
            (F.col("doc_id") % 400).cast("int"),
        ).alias("ts"),
    )
    return eng.date_histogram_facet(node, src, "ts", "month").select(
        F.date_format("key", "yyyy-MM-dd").alias("key"), "count"
    )


def _q_more_like_this(spark, sf_dir):
    """ES more_like_this: re-analyze doc 0's _source, select the 10
    highest tf*idf terms, scored disjunction excluding doc 0 itself."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.more_like_this(
        0, _docs(spark, sf_dir), text_col="text", k=10, max_query_terms=10
    ).select("doc_id", F.round("score", 4).alias("score"))


def _q_sort_by_field(spark, sf_dir):
    """ES sort on a _source field: the exact-value match set ordered by
    n_chars desc (doc_id asc tie-break), scoring skipped."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.field_query("spark", TOK_CFG, scored=False)
    return eng.sort_search(
        node, _docs(spark, sf_dir), "n_chars", k=10, ascending=False
    )


def _q_sort_multi_field(spark, sf_dir):
    """ES multi-clause sort ({lang: asc}, {n_chars: desc}): clauses
    apply in order, doc_id asc as the implicit _doc tie-breaker —
    lang groups must hold ordered n_chars runs inside them."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.field_query("spark", TOK_CFG, scored=False)
    return eng.sort_search(
        node,
        _docs(spark, sf_dir),
        [("lang", True), ("n_chars", False)],
        k=15,
    )


def _q_highlight(spark, sf_dir):
    """ES highlight: token-window fragments with <em> marks over the
    term query's hits; hit docs without the literal token (the chunk-AND
    prefix false-positive family) emit no row."""
    eng = _engine(spark, sf_dir, "tokens")
    hits = eng.term("spark")
    return eng.highlight(
        hits, _docs(spark, sf_dir), "spark", text_col="text", frag_tokens=5
    ).orderBy("doc_id")


def _q_bm25_filtered(spark, sf_dir):
    """ES filtered query {query, filter}: BM25 over the value with
    membership restricted to the filter's matches, filter unscored."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.search(
        BM25_QUERY, k=10, filter=qc.prefix_query("windo", TOK_CFG)
    ).select("doc_id", F.round("score", 4).alias("score"))


def _q_index_stats(spark, sf_dir):
    """ES _stats: live doc count, tombstones, scoring stats."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.index_stats().select(
        "docs_count",
        "docs_deleted",
        F.round("avgdl", 4).alias("avgdl"),
        "total_terms",
    )


def _q_scroll_all(spark, sf_dir):
    """ES scroll: page-walk the conjunctive ranked result via the
    search_after cursor (4 pages of 50) and reassemble — must equal the
    oracle's one-shot total order over the same 200-row prefix. Capped
    because each page is one full scan+shuffle: at sf0.1 the uncapped
    walk was 65 pages / 93 s of bench time proving nothing the first
    four page seams don't."""
    eng = _engine(spark, sf_dir, "tokens")
    rows = [
        (int(r["doc_id"]), float(r["score"]))
        for page in eng.scroll(BM25_QUERY, page_size=50, max_pages=4)
        for r in page
    ]
    return spark.createDataFrame(
        rows, "doc_id long, score double"
    ).select("doc_id", F.round("score", 4).alias("score"))


def _q_scroll_scan(spark, sf_dir):
    """ES search_type=scan: unscored scroll of the prefix query's doc
    set in doc_id order — the reassembly must equal the one-shot
    ordered doc set over the same 600-row prefix. Capped at 4 pages
    because each page is one full doc-set eval (the scroll_all lesson:
    uncapped at sf0.1 this walked 26 pages / 52 s of bench time
    proving nothing the first page seams don't); at sf0.01 the set is
    387 rows, so the cap also crosses the exhaustion path there."""
    eng = _engine(spark, sf_dir, "tokens")
    ids = [
        int(r["doc_id"])
        for page in eng.scroll_scan(
            qc.prefix_query("windo", TOK_CFG), page_size=150, max_pages=4
        )
        for r in page
    ]
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _q_count(spark, sf_dir):
    """ES count API: match count of the prefix query, no hits fetched."""
    eng = _engine(spark, sf_dir, "tokens")
    n = eng.count(qc.prefix_query("windo", TOK_CFG))
    return spark.createDataFrame([(n,)], "n long")


#: ES multi-get ids: a deterministic spread plus one id that exists in
#: no corpus (found:false -> absent row)
MGET_IDS = [1, 5, 7, 42, 99, 123, 99_999_999]


def _q_mget(spark, sf_dir):
    eng = _engine(spark, sf_dir, "tokens")
    return eng.get(
        MGET_IDS, _docs(spark, sf_dir), ["lang", "n_chars"]
    ).orderBy("doc_id")


def _q_stats_facet(spark, sf_dir):
    """ES statistical facet: numeric summary of n_chars over the
    conjunctive BM25_QUERY doc set. n_chars is integral, so every
    aggregate (incl. the double sums) is order-independent and exact."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.field_query(BM25_QUERY, TOK_CFG, scored=False)
    return eng.stats_facet(node, _docs(spark, sf_dir), "n_chars")


def _q_hist_facet(spark, sf_dir):
    """ES histogram facet: 100-wide n_chars buckets over the same doc
    set (key = floor(n_chars/100)*100, empty buckets absent)."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.field_query(BM25_QUERY, TOK_CFG, scored=False)
    return eng.histogram_facet(
        node, _docs(spark, sf_dir), "n_chars", 100.0
    )


#: ES range facet bounds over n_chars: lo inclusive / hi exclusive /
#: None open; the last range is deliberately empty (zero-row behavior)
FACET_RANGES = [(None, 200.0), (200.0, 400.0), (400.0, None),
                (10_000_000.0, None)]


def _q_range_facet(spark, sf_dir):
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.field_query(BM25_QUERY, TOK_CFG, scored=False)
    # empty-range aggregates are NULL (ES-faithful) — coalesce to 0 in
    # the gate ONLY, because the DuckDB-side pandas fetch turns NULL
    # into NaN and the value hash would diverge on representation
    z = F.lit(0.0)
    return eng.range_facet(
        node, _docs(spark, sf_dir), "n_chars", FACET_RANGES
    ).select(
        F.coalesce("lo", z).alias("lo"),
        F.coalesce("hi", z).alias("hi"),
        "count",
        F.coalesce("min", z).alias("min"),
        F.coalesce("max", z).alias("max"),
        F.coalesce("total", z).alias("total"),
        F.coalesce(F.round("mean", 6), z).alias("mean"),
    )


def _q_bm25_explain(spark, sf_dir):
    """Lucene Explanation parity: per-term BM25 breakdown of the
    lowest-doc_id conjunctive match of BM25_QUERY (deterministic pick,
    derivable identically in SQL)."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.field_query(BM25_QUERY, TOK_CFG, scored=True)
    did = (
        eng.docs(qc.field_query(BM25_QUERY, TOK_CFG, scored=False))
        .agg(F.min("doc_id"))
        .collect()[0][0]
    )
    return (
        eng.explain(list(node.terms), did)
        .select(
            "term",
            "weight",
            "df",
            F.round("idf", 6).alias("idf"),
            "tf",
            "dl",
            F.round("contribution", 6).alias("contribution"),
        )
        .orderBy("term")
    )


# ES delete parity gates (operators/search.py delete_docs +
# streaming/incremental.py compact purge — Lucene liveDocs semantics).
# Deterministic tombstone set: doc_id % 7 == 3. Both gates build their
# OWN engines — deletes mutate engine state, so the shared _ENGINES
# cache entries must never be tombstoned.
DEL_MOD, DEL_RES = 7, 3


def _del_victims(docs: DataFrame) -> list:
    return [
        r["doc_id"]
        for r in docs.where(
            F.col("doc_id") % DEL_MOD == DEL_RES
        ).select("doc_id").collect()
    ]


def _q_bm25_deleted(spark, sf_dir):
    """Tombstoned index, stats STALE (pre-purge): surviving docs score
    with full-corpus n/avgdl/df; only membership changes. The oracle
    mirrors that by filtering candidates after full-corpus scoring."""
    key = (id(spark), sf_dir, "deleted")
    if key not in _ENGINES:
        # a sibling engine SHARING the tokens engine's (cached) postings
        # and docstats frames — tombstone state is per-engine, so the
        # shared engine stays clean while this one masks; re-tokenizing
        # the identical corpus bought nothing (guide §2.4)
        base = _engine(spark, sf_dir, "tokens")
        eng = SearchEngine(
            spark, base.postings, base.docstats, dict(base.stats),
            base.cfg, lexicon=base.lexicon,
        )
        eng.delete_docs(_del_victims(_docs(spark, sf_dir)))
        _ENGINES[key] = eng
    return _ENGINES[key].search(BM25_QUERY, k=10).select(
        "doc_id", F.round("score", 4).alias("score")
    )


def _q_bm25_purged(spark, sf_dir):
    """Tombstones applied by compact_index (Lucene expunge-at-merge):
    postings physically dropped, stats/lexicon recomputed — the result
    must equal BM25 over the live corpus outright."""
    key = (id(spark), sf_dir, "purged")
    if key not in _ENGINES:
        from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
            compact_index,
        )

        idx = _disk_index_clone(spark, sf_dir, "hs_gate_purge_")
        out = idx + "_out"
        eng0 = SearchEngine.open(spark, idx)
        eng0.delete_docs(_del_victims(_docs(spark, sf_dir)))
        compact_index(spark, idx, out, TOK_CFG)
        _ENGINES[key] = SearchEngine.open(spark, out)
    return _ENGINES[key].search(BM25_QUERY, k=10).select(
        "doc_id", F.round("score", 4).alias("score")
    )


# ES upsert parity (streaming/incremental.py upsert_docs = tombstone +
# purge merge + reindex segment, the Lucene update model): docs with
# doc_id % UPS_MOD == UPS_RES are REPLACED by new text containing the
# BM25 query terms (dl varied per doc so no two replacements tie
# exactly), plus five brand-new docs inserted. The upserted on-disk
# index must score exactly like a fresh build over the updated corpus —
# which is literally what the oracle computes.
UPS_MOD, UPS_RES = 11, 4
UPS_TEXT_SQL = (
    "'spark join upda' || repeat(' fill', CAST(doc_id % 6 AS INT))"
)
UPS_NEW = [
    (900000, "spark join newd"),
    (900001, "spark join newd extr"),
    (900002, "spark newd only"),
    (900003, "join newd only"),
    (900004, "newd without quer"),
]


def _q_bm25_upserted(spark, sf_dir):
    key = (id(spark), sf_dir, "upserted")
    if key not in _ENGINES:
        from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
            upsert_docs,
        )

        idx = _disk_index_clone(spark, sf_dir, "hs_gate_upsert_")
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        updates = (
            docs.where(F.col("doc_id") % UPS_MOD == UPS_RES)
            .select("doc_id", F.expr(UPS_TEXT_SQL).alias("text"))
            .unionAll(
                spark.createDataFrame(UPS_NEW, "doc_id long, text string")
            )
        )
        upsert_docs(
            spark, idx, updates, TOK_CFG, id_col="doc_id", text_col="text"
        )
        _ENGINES[key] = SearchEngine.open(spark, idx)
    return _ENGINES[key].search(BM25_QUERY, k=10).select(
        "doc_id", F.round("score", 4).alias("score")
    )


# ES _update_by_query parity: every live doc matching UBQ_MATCH is
# reindexed with transformed content (the "script" is a SQL expression
# identical in both engines); the gate then ranks BM25_QUERY over the
# updated index — the transform plants the query terms, so updated
# docs genuinely move the top-10.
UBQ_MATCH = "window"
UBQ_TEXT_SQL = "'spark join upda ' || lang || ' ' || text"


def _q_update_by_query(spark, sf_dir):
    key = (id(spark), sf_dir, "update_by_query")
    if key not in _ENGINES:
        from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
            update_by_query,
        )

        idx = _disk_index_clone(spark, sf_dir, "hs_gate_ubq_")
        docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
        update_by_query(
            spark, idx,
            qc.field_query(UBQ_MATCH, TOK_CFG, scored=False),
            docs, F.expr(UBQ_TEXT_SQL), TOK_CFG,
            id_col="doc_id", text_col="text",
        )
        _ENGINES[key] = SearchEngine.open(spark, idx)
    return _ENGINES[key].search(BM25_QUERY, k=10).select(
        "doc_id", F.round("score", 4).alias("score")
    )


def _q_multi_index(spark, sf_dir):
    """ES multi-index (alias) search, dfs_query_then_fetch: the corpus
    split into two indexes by doc_id parity, one coordinator query with
    GLOBAL stats — scores must equal the single merged index exactly,
    so the oracle is the plain full-corpus BM25 top-10 plus the parity
    index name (operators/multi.py)."""
    from elasticsearch_analysis_hashsplitter_spark.operators.multi import (
        MultiIndexEngine,
    )

    key = (id(spark), sf_dir, "multi")
    if key not in _ENGINES:
        # derive each parity shard from the shared tokens engine's
        # already-tokenized (cached) blocks — one map-only Arrow
        # filter per half instead of two full tokenize + term-shuffle
        # builds of the same corpus (SearchEngine.doc_subset)
        base = _engine(spark, sf_dir, "tokens")
        halves = [
            base.doc_subset(
                lambda c, p=par: c % 2 == p,
                lambda ids, p=par: ids % 2 == p,
            )
            for par in (0, 1)
        ]
        _ENGINES[key] = MultiIndexEngine(halves, ["even", "odd"])
    return _ENGINES[key].search(BM25_QUERY, k=10).select(
        "doc_id",
        F.round("score", 4).alias("score"),
        F.col("index").alias("idx"),
    )


def _q_multi_index_batch(spark, sf_dir):
    """ES _msearch against the parity-split alias: the 5-query batch
    over both halves with dfs global weights — per-query results must
    equal the single merged index's batch (same oracle as
    bm25_topk_batch plus the parity shard attribution)."""
    _q_multi_index(spark, sf_dir)  # ensure the parity engines exist
    m = _ENGINES[(id(spark), sf_dir, "multi")]
    vals = {f"q_{t}": t for t in BATCH_QUERIES}
    return m.search_batch(vals, k=10).select(
        "query_id",
        "doc_id",
        F.round("score", 4).alias("score"),
        F.col("rank").cast("long").alias("rank"),
        F.col("index").alias("idx"),
    ).orderBy("query_id", "rank")


#: indices-query gate: the "even" half runs the flagship value, the
#: "odd" half runs the no_match branch value
INDICES_NO_MATCH = "window"


def _q_indices_query(spark, sf_dir):
    """ES 0.19 indices query over the parity-split alias: the "even"
    index runs the main query, the "odd" index runs the no_match
    branch — both scored with the dfs global weights (== full-corpus
    stats since the halves are disjoint), merged by the coordinator."""
    _q_multi_index(spark, sf_dir)  # ensure the parity engines exist
    key = (id(spark), sf_dir, "multi")
    return _ENGINES[key].indices_search(
        ["even"], BM25_QUERY, no_match=INDICES_NO_MATCH, k=10
    ).select(
        "doc_id",
        F.round("score", 4).alias("score"),
        F.col("index").alias("idx"),
    )


#: the percolator gate's registered queries — one of each query family
#: plus a pure-negative bool (exercises the zero-mask plant) and a
#: conjunction-with-exclusion (exercises leaf sharing across queries)
def _perc_queries():
    return {
        "has_spark": qc.field_query("spark", TOK_CFG, scored=False),
        "windo_prefix": qc.prefix_query("windo", TOK_CFG),
        "sar_wild": qc.wildcard_query("s?ar*", TOK_CFG),
        "spark_not_join": qc.bool_filter(
            must=[qc.field_query("spark", TOK_CFG, scored=False)],
            must_not=[qc.field_query("join", TOK_CFG, scored=False)],
        ),
        "no_spark": qc.bool_filter(
            must_not=[qc.field_query("spark", TOK_CFG, scored=False)]
        ),
    }


def _q_percolate(spark, sf_dir):
    """ES 0.19 percolate API (reverse search): five registered queries
    — field / prefix / wildcard / bool-with-exclusion / pure-negative —
    evaluated against a 1-in-7 document sample in ONE broadcast leaf
    join + ONE bit_or shuffle (operators/percolate.py). The oracle
    re-derives each registered query's match set independently via the
    IR -> SQL translator over the chunk CTE and unions them."""
    from elasticsearch_analysis_hashsplitter_spark.operators.percolate import (
        Percolator,
    )

    p = Percolator(spark, TOK_CFG)
    for name, node in _perc_queries().items():
        p.register(name, node)
    sample = _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 3)
    return p.percolate(sample).orderBy("doc_id", "query_name")


def _q_hash_prefix(spark, sf_dir):
    return _sorted_docs(_engine(spark, sf_dir, "hash").prefix("0"))


def _q_hash_wildcard_suffix(spark, sf_dir):
    return _sorted_docs(_engine(spark, sf_dir, "hash").wildcard("*ff"))


def _q_hash_range(spark, sf_dir):
    lo, hi = "2" + "0" * 31, "c" + "f" * 31
    return _sorted_docs(
        _engine(spark, sf_dir, "hash").range(lo, hi, True, True)
    )


def _q_hash_range_open(spark, sf_dir):
    return _sorted_docs(
        _engine(spark, sf_dir, "hash").range(None, None, True, True)
    )


def _q_search_wildcard_scored(spark, sf_dir):
    """Scored wildcard top-k: the reference's WildcardQuery rewrites
    constant-score (Lucene 3.5 MultiTermQuery CONSTANT_SCORE rewrite,
    boost coverage HashSplitterQueryParsersTests.java:304-327) — every
    match scores boost, rank falls to doc_id."""
    eng = _engine(spark, sf_dir, "tokens")
    out = eng.search_wildcard("s?ar*", k=10, boost=2.0)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_search_range_scored(spark, sf_dir):
    """Scored range top-k — C5 ConstantScoreQuery(rangeFilter),
    HashSplitterFieldMapper.java:532-538: constant score = boost."""
    lo, hi = "2" + "0" * 31, "c" + "f" * 31
    eng = _engine(spark, sf_dir, "hash")
    out = eng.search_range(lo, hi, True, True, k=10, boost=3.0)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_dedup_exact(spark, sf_dir):
    from elasticsearch_analysis_hashsplitter_spark.operators.dedup import (
        exact_duplicates,
    )

    return exact_duplicates(_docs(spark, sf_dir)).orderBy("digest")


def _q_ngram_jaccard(spark, sf_dir):
    from elasticsearch_analysis_hashsplitter_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.3, n=3
    ).orderBy("doc_a", "doc_b")


def _q_ngram_jaccard_capped(spark, sf_dir):
    """The 100TB-path tier of the exact jaccard operator: hot shingles
    (df > cap) are excluded from candidate generation (the quadratic
    self-join), with an exact recount over ALL shingles for survivors.
    The oracle replicates the cap semantics in SQL, so this gate is
    hash-exact by construction — it verifies the cap machinery itself,
    not a corpus where the cap happens to be a no-op (at sf0.01 shingles
    with df in (5, 7] exist, so the cap path genuinely executes)."""
    from elasticsearch_analysis_hashsplitter_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.3, n=3, max_shingle_df=5
    ).orderBy("doc_a", "doc_b")


def _q_minhash_pairs(spark, sf_dir):
    """Oracled as the exact shingle-Jaccard pair set at the same
    threshold: the corpus's true >=0.5 pairs all have J >= 0.9 (planted
    near-dups), where the 16x4 banding's per-pair miss probability is
    (1-0.9^4)^16 ~ 4e-8 — and the seeded signatures are deterministic, so
    the locally-verified recall=1 is exactly what the driver re-runs.
    LSH affects recall only; the exact-Jaccard verify keeps precision 1."""
    from elasticsearch_analysis_hashsplitter_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    return minhash_dedup_pairs(
        _docs(spark, sf_dir), threshold=0.5
    ).orderBy("doc_a", "doc_b")


def _q_dedup_clusters(spark, sf_dir):
    """Connected components over the MinHash near-dup pairs -> (doc_id,
    cluster_id = min id in component); oracled by a DuckDB recursive-CTE
    transitive closure over the exact-Jaccard edge set."""
    from elasticsearch_analysis_hashsplitter_spark.operators.dedup import (
        dedup_clusters,
        minhash_dedup_pairs,
    )

    pairs = minhash_dedup_pairs(_docs(spark, sf_dir), threshold=0.5).select(
        "doc_a", "doc_b"
    )
    return dedup_clusters(pairs).orderBy("doc_id")


def _q_simhash_pairs(spark, sf_dir):
    """hash_family='md5_60' is the oracle-replicable token-hash family
    (DuckDB computes the identical 60-bit value); the banding/majority/
    verify pipeline is the same code path as the xxhash64 default, and
    the 16-bit-band blocking is pigeonhole-EXACT for hamming<=3, so the
    oracle is a full independent recomputation, not a mirror."""
    from elasticsearch_analysis_hashsplitter_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    out = simhash_near_duplicates(
        _docs(spark, sf_dir), max_hamming=3, hash_family="md5_60"
    )
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("doc_a", "doc_b")


def _q_winnow_pairs(spark, sf_dir):
    """Winnowing (rolling k-gram hash + window min, SIGMOD'03) document
    fingerprint pairs; the oracle recomputes the identical polynomial
    hashes and window minima in pure SQL — an independent loop-free
    reimplementation, not a mirror of the Arrow kernel."""
    from elasticsearch_analysis_hashsplitter_spark.operators.winnow import (
        winnow_pairs,
    )

    out = winnow_pairs(_docs(spark, sf_dir), min_common=5, k=10, w=8)
    return out.select(
        "doc_a", "doc_b", F.col("n_common").cast("long").alias("n_common")
    ).orderBy("doc_a", "doc_b")


def _winnow_oracle(k: int = 10, w: int = 8, min_common: int = 5) -> str:
    """Independent SQL recomputation of the winnowing fingerprints:
    per-position polynomial k-gram hash (powers inlined as literals),
    window minima via a start-positions range join, distinct
    fingerprints per doc, then the pair join with the overlap cut."""
    from elasticsearch_analysis_hashsplitter_spark.operators.winnow import (
        WINNOW_MOD,
        winnow_powers,
    )

    powers = winnow_powers(k)
    terms = " + ".join(
        f"ascii(substr(s, i+{j}, 1))::BIGINT * {powers[j]}" for j in range(k)
    )
    return f"""
WITH n AS (
  SELECT doc_id, lower(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS s
  FROM documents
),
g AS (
  SELECT doc_id, s, unnest(range(1, length(s) - {k} + 2)) AS i
  FROM n WHERE length(s) >= {k}
),
h AS (SELECT doc_id, i, ({terms}) % {WINNOW_MOD} AS h FROM g),
cnt AS (SELECT doc_id, count(*) AS ng FROM h GROUP BY doc_id),
st AS (SELECT doc_id, unnest(range(1, greatest(1, ng - {w} + 1) + 1)) AS p
       FROM cnt),
sel AS (SELECT st.doc_id, st.p, min(h.h) AS fp
        FROM st JOIN h ON h.doc_id = st.doc_id
                      AND h.i BETWEEN st.p AND st.p + {w} - 1
        GROUP BY st.doc_id, st.p),
fps AS (SELECT DISTINCT doc_id, fp FROM sel)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_common
FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_common}
ORDER BY doc_a, doc_b"""


def _q_ann_cosine(spark, sf_dir):
    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        cosine_topk,
    )

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = cosine_topk(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        [float(x) for x in q],
        k=10,
    )
    return out.select("vec_id", F.round("cos", 4).alias("cos"))


#: LSH gate params: 16 bands x 8 bits. Planted neighbors sit at cos>=0.985
#: (p_bit ~ 0.945), so the per-item band-miss probability is
#: (1 - 0.945^8)^16 ~ 1e-7 — and the seeded hyperplanes make the verified
#: local run identical to the driver's. Non-planted cosines top out ~0.51.
LSH_BITS, LSH_BANDS = 128, 16


def _q_ann_lsh(spark, sf_dir):
    """ANN over the planted union: the true top-10 for vec 0's embedding
    are its 12 perturbed copies + itself (cos >= 0.995, next is <0.38),
    all found by the banded LSH — so the output equals the exact top-10,
    which the oracle computes independently by brute force."""
    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        rp_lsh_topk,
    )

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = rp_lsh_topk(
        _planted_union(spark, sf_dir),
        [float(x) for x in q],
        k=10,
        n_bits=LSH_BITS,
        bands=LSH_BANDS,
    )
    return out.select("vec_id", F.round("cos", 4).alias("cos"))


def _q_ann_lsh_index(spark, sf_dir):
    """The ANN SERVING path: same query + brute-force oracle as
    ann_lsh_topk, but candidates come from a persisted rp_lsh_index —
    band-partitioned parquet rows that carry the vectors, so the query
    reads ONLY its matching band partitions and re-ranks off them (no
    join back to the base table; see the r5 1M probe in BENCH.md for
    why the id-only shape was the wrong serving structure)."""
    import tempfile

    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        rp_lsh_index,
        rp_lsh_topk,
    )

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    union = _planted_union(spark, sf_dir)
    idx = rp_lsh_index(
        union,
        dim=64,
        path=tempfile.mkdtemp(prefix="hs_lsh_gate_") + "/idx",
        n_bits=LSH_BITS,
        bands=LSH_BANDS,
    )
    out = rp_lsh_topk(
        union,
        [float(x) for x in q],
        k=10,
        n_bits=LSH_BITS,
        bands=LSH_BANDS,
        buckets=idx,
    )
    return out.select("vec_id", F.round("cos", 4).alias("cos"))


def _q_ann_lsh_batch(spark, sf_dir):
    """Batch ANN serving: three query vectors (vec 0 and two of its
    planted cluster copies — every member's true top-10 is other
    cluster members, all sharing signature bands) answered in ONE
    pruned scan + one query_id shuffle by ``rp_lsh_topk_batch``; the
    oracle computes each query's top-10 independently by brute force
    (QUALIFY window). Per-query semantics are pinned to rp_lsh_topk in
    pytest; this gate pins the batch tier end-to-end against SQL."""
    import tempfile

    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        rp_lsh_index,
        rp_lsh_topk_batch,
    )

    union = _planted_union(spark, sf_dir)
    qids = [0, PLANT_CLUSTER_BASE + 2, PLANT_CLUSTER_BASE + 7]
    qs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in union.where(F.col("vec_id").isin(qids)).collect()
    }
    idx = rp_lsh_index(
        union,
        dim=64,
        path=tempfile.mkdtemp(prefix="hs_lshb_gate_") + "/idx",
        n_bits=LSH_BITS,
        bands=LSH_BANDS,
    )
    out = rp_lsh_topk_batch(
        union, qs, k=10, n_bits=LSH_BITS, bands=LSH_BANDS, buckets=idx
    )
    return out.select(
        "query_id", "vec_id", F.round("cos", 4).alias("cos")
    )


def _q_ann_ivf(spark, sf_dir):
    """IVF ANN over the planted union: the 13 near-copies of vec 0 (cos
    >= 0.995) quantize to the same coarse centroid as the query, so a
    few probes recover the exact top-10 — verified against the same
    brute-force SQL oracle as the LSH gate. Training is deterministic
    (seeded numpy k-means over a bounded, id-ordered sample)."""
    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
    )

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    union = _planted_union(spark, sf_dir)
    cents = ivf_centroids(union, n_centroids=16)
    out = ivf_topk(union, [float(x) for x in q], cents, k=10, nprobe=6)
    return out.select("vec_id", F.round("cos", 4).alias("cos"))


def _q_ann_ivf_batch(spark, sf_dir):
    """Batch IVF serving from a persisted centroid-partitioned index:
    same three cluster queries and brute-force QUALIFY oracle as
    ann_lsh_batch_topk — all three answered by ONE pruned scan over the
    union of probe sets + one query_id shuffle (ivf_topk_batch);
    per-query equivalence to ivf_topk is pinned in pytest."""
    import tempfile

    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
        ivf_topk_batch,
    )

    union = _planted_union(spark, sf_dir)
    qids = [0, PLANT_CLUSTER_BASE + 2, PLANT_CLUSTER_BASE + 7]
    qs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in union.where(F.col("vec_id").isin(qids)).collect()
    }
    cents = ivf_centroids(union, n_centroids=16)
    idx = ivf_index(
        union, cents, tempfile.mkdtemp(prefix="hs_ivfb_gate_") + "/idx"
    )
    out = ivf_topk_batch(
        union, qs, cents, k=10, nprobe=6, assignments=idx
    )
    return out.select(
        "query_id", "vec_id", F.round("cos", 4).alias("cos")
    )


def _q_embedding_near_dup_lsh(spark, sf_dir):
    """The scale path for embedding near-dup (banded candidates + exact
    verify, never all-pairs), gated against the same exact SQL oracle as
    the O(n^2) tier: on the planted union every true >=0.9 pair is at
    cos >= 0.985 where LSH recall is deterministic-in-practice (~1e-7
    miss, fixed seed), and the exact-cosine verify keeps precision 1."""
    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        cosine_near_duplicates_lsh,
    )

    out = cosine_near_duplicates_lsh(
        _planted_union(spark, sf_dir),
        threshold=0.9,
        dim=64,
        n_bits=LSH_BITS,
        bands=LSH_BANDS,
    )
    return out.orderBy("vec_a", "vec_b")


def _q_embedding_near_dup(spark, sf_dir):
    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        cosine_near_duplicates,
    )

    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return cosine_near_duplicates(emb, threshold=0.35).orderBy(
        "vec_a", "vec_b"
    )


def _q_windowed_events(spark, sf_dir):
    from elasticsearch_analysis_hashsplitter_spark.streaming.windows import (
        windowed_event_stats,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_stats(events)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("win"),
        "event_type",
        "n_events",
        "sum_value",
    ).orderBy("win", "event_type")


def _q_sessionize(spark, sf_dir):
    from elasticsearch_analysis_hashsplitter_spark.streaming.sessions import (
        sessionize_batch,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize_batch(events, gap_minutes=30)
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "s_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "s_end"
        ),
        "n_events",
        "sum_value",
    ).orderBy("user_id", "s_start")


def _q_text_metrics(spark, sf_dir):
    from elasticsearch_analysis_hashsplitter_spark.operators.text import (
        text_metrics,
    )

    return text_metrics(_docs(spark, sf_dir)).orderBy("doc_id")


def _q_iceberg_scan(spark, sf_dir):
    """Iceberg source gate (BASELINE.json input_hint names the corpus an
    Iceberg table; no Iceberg jars ship in this container, so the
    metadata layer is the engine's pure-python spec implementation,
    sources/iceberg.py): documents -> a v2 table written in TWO commits
    (create + append, so the manifest-list carry-forward is on the
    hot path), read back via the snapshot-resolving metadata reader,
    compared hash-exact against DuckDB over the ORIGINAL parquet.
    Snapshot time travel is asserted inside the gate (the first
    snapshot must see exactly the first commit's rows)."""
    import tempfile

    from elasticsearch_analysis_hashsplitter_spark.sources import (
        iceberg as ice,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tbl = tempfile.mkdtemp(prefix="hs_iceberg_gate_") + "/docs"
    first = docs.where(F.col("doc_id") % 5 != 0)
    s1 = ice.write_table(first, tbl, mode="create")
    ice.write_table(docs.where(F.col("doc_id") % 5 == 0), tbl, mode="append")
    n1 = ice.read_table(spark, tbl, snapshot_id=s1).count()
    expect1 = first.count()
    if n1 != expect1:
        raise AssertionError(
            f"iceberg snapshot pinning broken: snapshot {s1} reads "
            f"{n1} rows, the create commit wrote {expect1}"
        )
    return ice.read_table(spark, tbl).select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.length("text").alias("text_len"),
    )


def _q_quality_filter(spark, sf_dir):
    """Pre-training corpus cut: quality >= 2/3 heuristics AND lang 'en'
    AND >= 20 tokens; oracled by the same metric formulas in SQL."""
    from elasticsearch_analysis_hashsplitter_spark.operators.text import (
        filter_documents,
    )

    out = filter_documents(
        _docs(spark, sf_dir), min_quality=0.66, lang="en", min_tokens=20
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id")).orderBy(
        "doc_id"
    )


def _q_bpe_token_count(spark, sf_dir):
    from elasticsearch_analysis_hashsplitter_spark.operators.text import (
        bpe_token_count,
    )

    return _docs(spark, sf_dir).select(
        "doc_id", bpe_token_count("text").alias("n_bpe")
    ).orderBy("doc_id")


def _q_streaming_term(spark, sf_dir):
    """End-to-end Structured Streaming path: drain the documents table as
    a stream into per-batch index segments, refresh stats, query — must
    equal the batch answer (oracle: same chunks CTE as term_query)."""
    import tempfile

    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        refresh_stats,
    )
    from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
        stream_index,
    )

    base = tempfile.mkdtemp(prefix="hs_stream_gate_")
    # file-stream sources consume directories of arriving files: stage the
    # table as the drop-directory a real ingest pipeline would watch
    _docs(spark, sf_dir).select("doc_id", "text").write.parquet(
        f"{base}/src"
    )
    q = stream_index(
        spark,
        f"{base}/src",
        "doc_id long, text string",
        TOK_CFG,
        f"{base}/idx",
        f"{base}/ckpt",
        id_col="doc_id",
        text_col="text",
        num_partitions=8,
    )
    q.awaitTermination()
    refresh_stats(spark, f"{base}/idx", TOK_CFG)
    eng = SearchEngine.open(spark, f"{base}/idx")
    return _sorted_docs(eng.term("spark"))


def _q_multimodal_features(spark, sf_dir):
    """The fake feature is a pure function of the payload's sha256 hex
    stream (20-bit dyadic rationals, exact in float32), and the synthetic
    payload is ASCII-reproducible, so the oracle recomputes media ids,
    payload hashing, and feature values independently in SQL; the gate
    compares exact integers (f * 2^20), no float rounding involved."""
    from elasticsearch_analysis_hashsplitter_spark.operators.multimodal import (
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, 200)
    feats = extract_features(media, dim=8)
    return feats.select(
        "media_id",
        "payload_sha256",
        (F.element_at("feature", 1).cast("double") * 1048576)
        .cast("long")
        .alias("f0_u20"),
        (F.element_at("feature", 8).cast("double") * 1048576)
        .cast("long")
        .alias("f7_u20"),
    ).orderBy("media_id")


def _q_multifield(spark, sf_dir):
    """Multi-field index (several hashsplitter-mapped fields per corpus,
    HashSplitterFieldMapper.java:193-245): docs matching term 'spark' in
    the content field AND md5-hash prefix '0' in the hash field — two
    independent sub-indexes joined on doc_id."""
    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        run_jobs_concurrently,
    )
    from elasticsearch_analysis_hashsplitter_spark.operators.multifield import (
        MultiFieldEngine,
    )

    # the two sub-index builds are independent (distinct _ENGINES keys)
    # — overlap them (guide §2.6); later gates reuse both from the cache
    content_eng, hash_eng = run_jobs_concurrently(
        lambda: _engine(spark, sf_dir, "tokens"),
        lambda: _engine(spark, sf_dir, "hash"),
    )
    eng = MultiFieldEngine({"content": content_eng, "hash": hash_eng})
    a = eng["content"].term("spark")
    b = eng["hash"].prefix("0")
    return _sorted_docs(a.join(b, "doc_id"))


def _q_multifield_scored(spark, sf_dir):
    """Cross-field scored BM25 (the ES bool-should multi-field shape,
    HashSplitterFieldMapper fieldQuery registered per mapped field):
    content-field value 'spark' + hash-field value md5(text of doc 0),
    each analyzed and scored against its OWN sub-index stats, scores
    summed on doc_id before ranking — doc 0's hash-field score stacks
    on top of any content match it also has."""
    from elasticsearch_analysis_hashsplitter_spark.operators.multifield import (
        MultiFieldEngine,
    )

    eng = MultiFieldEngine(
        {
            "content": _engine(spark, sf_dir, "tokens"),
            "hash": _engine(spark, sf_dir, "hash"),
        }
    )
    hv = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") == 0)
        .select(F.md5("text").alias("h"))
        .first()["h"]
    )
    out = eng.search_scored({"content": "spark", "hash": hv}, k=10)
    return out.select(
        "doc_id", F.round("score", 4).alias("score")
    )


DIS_MAX_VALUES = ["spark", "join"]
DIS_MAX_TIE = 0.3
BOOSTING_NEG_BOOST = 0.2
BEST_FIELDS_TIE = 0.3


def _q_match_all(spark, sf_dir):
    """ES match_all: every live indexed doc at constant score — the
    base query of facet-only requests. k chosen > corpus at sf0.001
    and < corpus at sf0.01+ so both limit branches stay exercised."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.match_all(k=25).select("doc_id", "score")


#: ES 0.19 custom_score script (Catalyst dialect): _score boosted by a
#: doc-length field read from _source — shared verbatim semantics with
#: the DuckDB oracle's final combine
CUSTOM_SCORE_SCRIPT = "_score * (1.0 + ln(1 + n_chars) / 10.0)"


def _q_custom_score(spark, sf_dir):
    """ES 0.19 custom_score query: the conjunctive BM25 frame for
    BM25_QUERY re-scored by a script over (_score, n_chars) — the
    script result REPLACES the score, re-ranking before top-k."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.custom_score(
        BM25_QUERY, CUSTOM_SCORE_SCRIPT, _docs(spark, sf_dir), k=10
    ).select("doc_id", F.round("score", 4).alias("score"))


# ES ids query: present ids (0-499 step 3) plus absent ones (>=501 and
# a far-out-of-range value) — the absent ids must match nothing
IDS_LIST = tuple(range(0, 600, 3)) + (10**9,)


def _q_ids_query(spark, sf_dir):
    """ES ids query composed in a bool filter (IdsQueryParser,
    constant-score): docs matching the value AND whose _id is in the
    explicit list. DocIds has no postings predicate, so this exercises
    the join-composition doc-set path next to a term leaf."""
    eng = _engine(spark, sf_dir, "tokens")
    node = qc.bool_filter(
        must=[
            qc.field_query("spark", TOK_CFG, scored=False),
            qc.ids_query(IDS_LIST),
        ]
    )
    return _sorted_docs(eng.docs(node))


def _q_bm25_topk_ids(spark, sf_dir):
    """ES filtered query with an ids filter: BM25 ranks the full
    candidate set, membership restricted to the id list, survivor
    scores untouched (constant-score filter context)."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.search(
        BM25_QUERY, k=10, filter=qc.ids_query(IDS_LIST)
    ).select("doc_id", F.round("score", 4).alias("score"))


def _q_custom_boost_factor(spark, sf_dir):
    """ES 0.19 custom_boost_factor: the wrapped query's BM25 score
    times a constant factor (scores scale, ranks identical)."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.custom_boost_factor(BM25_QUERY, 2.5, k=10).select(
        "doc_id", F.round("score", 4).alias("score")
    )


def _q_analyze_tokens(spark, sf_dir):
    """Distributed ES _analyze over the A1 hash-field analyzer: every
    token the tokenizer emits for md5(text) of a 1-in-13 doc sample,
    with the reference's full attribute set (term, stream position,
    start/end character offsets — HashSplitterTokenizer.java:119-123)."""
    from elasticsearch_analysis_hashsplitter_spark.operators.text import (
        analyze_stream,
    )

    hashed = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 13 == 0)
        .select("doc_id", F.md5("text").alias("hash"))
    )
    return analyze_stream(hashed, HASH_CFG, text_col="hash").orderBy(
        "doc_id", "pos"
    )


def _q_dis_max(spark, sf_dir):
    """ES/Lucene dis_max over two analyzed values on the content field:
    per-clause conjunctive BM25 frames combined by Lucene's
    DisjunctionMaxScorer formula max + tie_breaker*(sum - max)."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.dis_max(
        DIS_MAX_VALUES, k=10, tie_breaker=DIS_MAX_TIE
    ).select("doc_id", F.round("score", 4).alias("score"))


def _q_boosting(spark, sf_dir):
    """ES/Lucene boosting query: positive BM25 ('spark join'
    conjunctive), docs also matching the 'windo' prefix query demoted
    by x0.2 — never excluded (contrast with bm25_topk_excluded)."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.boosting(
        BM25_QUERY, _excl_node(), negative_boost=BOOSTING_NEG_BOOST, k=10
    ).select("doc_id", F.round("score", 4).alias("score"))


#: parent/child gates: the corpus's `source` column plays ES's _parent
#: routing key (20 parent keys at every SF; fan-out = |docs| / 20)
HAS_PARENT_PRED = "parent LIKE 'src1%'"
#: custom_filters_score: the EARLIER filter's boost is SMALLER than the
#: later one's, so score_mode=first (first match wins, the ES default)
#: provably differs from max on docs matching both
CFS_FILTERS_SPEC = [("windo-prefix", 1.5), ("c?stomer-wild", 2.0)]
SCRIPT_FILTER_EXPR = "n_chars % 3 = 1"


def _cfs_filters():
    return [
        (_excl_node(), CFS_FILTERS_SPEC[0][1]),
        (qc.wildcard_query("c?stomer", TOK_CFG), CFS_FILTERS_SPEC[1][1]),
    ]


def _q_has_child(spark, sf_dir):
    """ES 0.19 has_child: the parents (source keys) having >=1 child
    whose md5 hash field matches prefix '0' — constant-score in 0.19
    (HasChildQueryParser wraps a score-deleting filter), so the gate
    pins the distinct parent-key set. Selective at sf0.01: 25 of 500
    children match, covering 12 of the 20 parents."""
    eng = _engine(spark, sf_dir, "hash")
    return eng.has_child(
        qc.prefix_query("0", HASH_CFG), _docs(spark, sf_dir)
    ).orderBy("parent")


def _q_has_parent(spark, sf_dir):
    """ES 0.19 has_parent: the children whose parent key matches the
    parent-level predicate (constant-score membership, like
    has_child)."""
    eng = _engine(spark, sf_dir, "tokens")
    return eng.has_parent(HAS_PARENT_PRED, _docs(spark, sf_dir)).orderBy(
        "doc_id"
    )


def _q_top_children(spark, sf_dir):
    """ES 0.19 top_children: parents ranked by the SUM of their
    matching children's conjunctive BM25 scores for the flagship
    value (sum is ES score_mode=sum; max/avg are pytest-pinned)."""
    eng = _engine(spark, sf_dir, "tokens")
    out = eng.top_children(
        BM25_QUERY, _docs(spark, sf_dir), score_mode="sum", k=10
    )
    return out.select("parent", F.round("score", 4).alias("score"))


def _q_script_filter(spark, sf_dir):
    """ES 0.19 script filter inside a filtered query: BM25 ranking with
    membership cut by a script over the _source field n_chars — scores
    untouched (FilteredQuery never scores the filter side)."""
    eng = _engine(spark, sf_dir, "tokens")
    out = eng.script_filter(
        BM25_QUERY, SCRIPT_FILTER_EXPR, _docs(spark, sf_dir), k=10
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_custom_filters_score(spark, sf_dir):
    """ES 0.19 custom_filters_score, score_mode=first (the ES default:
    first matching filter in list order wins): BM25 x 1.5 for docs
    matching the windo-prefix filter, x 2.0 for docs matching only the
    c?stomer wildcard, x 1 for the rest."""
    eng = _engine(spark, sf_dir, "tokens")
    out = eng.custom_filters_score(
        BM25_QUERY, _cfs_filters(), score_mode="first", k=10
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _q_multifield_best_fields(spark, sf_dir):
    """multi_match best_fields across the two mapped fields — the same
    per-field score frames as multifield_scored, combined by dis_max
    (max + tie_breaker*(sum-max)) instead of the bool-should sum."""
    from elasticsearch_analysis_hashsplitter_spark.operators.multifield import (
        MultiFieldEngine,
    )

    eng = MultiFieldEngine(
        {
            "content": _engine(spark, sf_dir, "tokens"),
            "hash": _engine(spark, sf_dir, "hash"),
        }
    )
    hv = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") == 0)
        .select(F.md5("text").alias("h"))
        .first()["h"]
    )
    out = eng.search_scored(
        {"content": "spark", "hash": hv},
        k=10,
        mode="max",
        tie_breaker=BEST_FIELDS_TIE,
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


SERVE_VALUES = ["join", "spark"]


def _q_serve(spark, sf_dir):
    """Concurrent-serving gate: SearchEngine.serve (thread pool +
    coalescer) over the DOC-SHARDED serving layout reassembled into a
    DataFrame must match the per-value BM25 oracle — this gates the
    production serving plan (shard-local score/conjunction/top-k,
    zero shuffle) end to end, not just the shuffle plan."""
    eng = _engine(spark, sf_dir, "tokens")
    eng.enable_serving_layout(8)
    served = eng.serve({v: v for v in SERVE_VALUES}, k=10, max_workers=2)
    rows = []
    for v in SERVE_VALUES:
        for rank, (doc, score) in enumerate(served[v], 1):
            rows.append((v, int(doc), round(score, 4), rank))
    return spark.createDataFrame(
        rows, "query_id string, doc_id long, score double, rank long"
    ).orderBy("query_id", "rank")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """All 88 gates. ORDER IS DELIBERATE (r6, VERDICT r5 item #1): the
    driver's correctness window covers the FIRST 50 entries, and
    CORRECTNESS_r01..r05 only ever saw the original first 50 — so the
    38 gates the driver has never independently verified (ANN/dedup
    scale tiers, parent/child, scoring combinators, streaming, iceberg,
    text pipeline) now come FIRST, followed by a 12-gate representative
    core (term/prefix/wildcard/range/BM25/batch/maintenance), keeping
    the window at exactly the 50 highest-signal entries. Same keys,
    same callables, same results — only dict order changed."""
    return {
        # --- 38 gates never inside a driver correctness window (r1-r5)
        "ngram_jaccard_capped": _q_ngram_jaccard_capped,
        "minhash_pairs": _q_minhash_pairs,
        "dedup_clusters": _q_dedup_clusters,
        "simhash_pairs": _q_simhash_pairs,
        "winnow_pairs": _q_winnow_pairs,
        "ann_cosine_topk": _q_ann_cosine,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_lsh_index_topk": _q_ann_lsh_index,
        "ann_lsh_batch_topk": _q_ann_lsh_batch,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_ivf_batch_topk": _q_ann_ivf_batch,
        "embedding_near_dup": _q_embedding_near_dup,
        "embedding_near_dup_lsh": _q_embedding_near_dup_lsh,
        "multifield_and_query": _q_multifield,
        "multifield_scored": _q_multifield_scored,
        "multifield_best_fields": _q_multifield_best_fields,
        "dis_max_topk": _q_dis_max,
        "boosting_topk": _q_boosting,
        "has_child_query": _q_has_child,
        "has_parent_query": _q_has_parent,
        "top_children_sum": _q_top_children,
        "script_filter": _q_script_filter,
        "custom_filters_score": _q_custom_filters_score,
        "match_all": _q_match_all,
        "custom_score_topk": _q_custom_score,
        "ids_query": _q_ids_query,
        "bm25_topk_ids": _q_bm25_topk_ids,
        "custom_boost_factor": _q_custom_boost_factor,
        "analyze_tokens": _q_analyze_tokens,
        "serve_search": _q_serve,
        "windowed_event_stats": _q_windowed_events,
        "sessionize_events": _q_sessionize,
        "text_metrics": _q_text_metrics,
        "quality_filter": _q_quality_filter,
        "bpe_token_count": _q_bpe_token_count,
        "multimodal_features": _q_multimodal_features,
        "streaming_term_query": _q_streaming_term,
        "iceberg_scan": _q_iceberg_scan,
        # --- representative core kept inside the 50-entry window
        "term_query": _q_term,
        "chunk_term_query": _q_chunk_term,
        "prefix_query": _q_prefix,
        "wildcard_mid_query": _q_wildcard_mid,
        "bm25_topk": _q_bm25,
        "bm25_topk_batch": _q_bm25_batch,
        "hash_prefix_query": _q_hash_prefix,
        "hash_range_query": _q_hash_range,
        "bm25_topk_upserted": _q_bm25_upserted,
        "multi_index_search": _q_multi_index,
        "percolate_matches": _q_percolate,
        "scroll_all": _q_scroll_all,
        # --- remaining driver-verified-in-prior-rounds gates
        "lexicon_top100": _q_lexicon,
        "wildcard_prefix_query": _q_wildcard_prefix,
        "bm25_topk_or": _q_bm25_or,
        "bool_must_not": _q_bool_must_not,
        "bool_pure_not": _q_bool_pure_not,
        "bm25_topk_excluded": _q_bm25_excluded,
        "bm25_min_should_match": _q_bm25_msm,
        "more_like_this": _q_more_like_this,
        "sort_by_field": _q_sort_by_field,
        "sort_multi_field": _q_sort_multi_field,
        "highlight_first": _q_highlight,
        "count_query": _q_count,
        "bm25_topk_filtered": _q_bm25_filtered,
        "index_stats": _q_index_stats,
        "bm25_explain": _q_bm25_explain,
        "search_fetch": _q_search_fetch,
        "mget": _q_mget,
        "lang_facet": _q_lang_facet,
        "global_facet": _q_global_facet,
        "stats_facet": _q_stats_facet,
        "histogram_facet": _q_hist_facet,
        "range_facet": _q_range_facet,
        "query_facet": _q_query_facet,
        "terms_stats_facet": _q_terms_stats_facet,
        "date_histogram_facet": _q_date_histogram_facet,
        "bm25_topk_page2": _q_bm25_page2,
        "bm25_topk_deleted": _q_bm25_deleted,
        "bm25_topk_purged": _q_bm25_purged,
        "update_by_query": _q_update_by_query,
        "indices_query": _q_indices_query,
        "multi_index_batch": _q_multi_index_batch,
        "scroll_scan": _q_scroll_scan,
        "hash_wildcard_suffix": _q_hash_wildcard_suffix,
        "hash_range_open": _q_hash_range_open,
        "search_wildcard_scored": _q_search_wildcard_scored,
        "search_range_scored": _q_search_range_scored,
        "dedup_exact": _q_dedup_exact,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; views pre-registered by the driver)
# ---------------------------------------------------------------------------

_TOK_CTE = sql_oracle.chunks_cte_tokens(TOK_CFG)


def _tok_ir_sql(node) -> str:
    sel = sql_oracle.docs_select(node, TOK_CFG)
    return f"WITH {_TOK_CTE} SELECT doc_id FROM ({sel}) q ORDER BY doc_id"


def _bm25_oracle(
    conjunctive: bool = True,
    docs_table: str = "documents",
    prefix_cte: str = "",
    final_pred: str = "",
    offset: int = 0,
    min_nt: int = 0,
    limit: int | None = 10,
) -> str:
    """Conjunctive/disjunctive BM25 top-10 oracle. ``final_pred``
    filters the scored candidates BEFORE the top-k (the tombstone
    model: stats over the full corpus, membership over the live set);
    ``docs_table``+``prefix_cte`` instead rebuild everything over a
    restricted corpus (the post-purge model: stats AND membership over
    the live set)."""
    ctes, nt = _bm25_hits_ctes(docs_table)
    having = f"WHERE nt = {nt}" if conjunctive else ""
    if min_nt > 1 and not conjunctive:
        having = f"WHERE nt >= {min_nt}"
    if final_pred:
        having = (
            f"{having} AND {final_pred}" if having else f"WHERE {final_pred}"
        )
    return f"""
WITH {prefix_cte}{ctes}
SELECT doc_id, round(score, 4) AS score FROM hits
{having}
ORDER BY score DESC, doc_id
{f"LIMIT {limit}" if limit is not None else ""}{f" OFFSET {offset}" if offset else ""}"""


def _scored_clause_cte(alias: str, value: str) -> tuple[str, str]:
    """One conjunctive-BM25 clause as a named CTE over the shared
    tf/dl/stats CTEs — (cte_sql, clause terms count) for composing the
    dis_max oracle."""
    terms = sorted(set(qc.field_query(value, TOK_CFG).terms))
    in_list = ", ".join("'" + t + "'" for t in terms)
    k1, b = TOK_CFG.bm25_k1, TOK_CFG.bm25_b
    return (
        f"""{alias} AS (
  SELECT doc_id, score FROM (
    SELECT tf.doc_id,
           sum(ln(1 + (s.n - d_{alias}.df + 0.5) / (d_{alias}.df + 0.5))
               * tf.tf * ({k1} + 1)
               / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / s.avgdl))) AS score,
           count(DISTINCT tf.term) AS nt
    FROM tf
    JOIN (SELECT term, count(*) AS df FROM tf
          WHERE term IN ({in_list}) GROUP BY term) d_{alias}
      ON tf.term = d_{alias}.term
    JOIN dl USING (doc_id)
    CROSS JOIN stats s
    GROUP BY tf.doc_id
  ) h WHERE nt = {len(terms)}
)""",
        str(len(terms)),
    )


def _indices_query_oracle() -> str:
    """The parity split with dfs global stats makes each branch's
    scores equal a full-corpus evaluation restricted to its half:
    score the main value over even doc_ids, the no_match value over
    odd doc_ids, union, one top-10."""
    c_main, _ = _scored_clause_cte("qm", BM25_QUERY)
    c_nm, _ = _scored_clause_cte("qn", INDICES_NO_MATCH)
    return f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM chunks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM chunks GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n, avg(dl) AS avgdl FROM dl),
{c_main},
{c_nm}
SELECT doc_id, round(s, 4) AS score, idx FROM (
  SELECT doc_id, score AS s, 'even' AS idx FROM qm WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, score AS s, 'odd' AS idx FROM qn WHERE doc_id % 2 = 1
) u
ORDER BY s DESC, doc_id, idx
LIMIT 10"""


def _dis_max_oracle() -> str:
    """Lucene DisjunctionMaxScorer: max(sub) + tie*(sum(sub)-max(sub))
    over independently-scored conjunctive clauses."""
    clauses = [
        _scored_clause_cte(f"s{i}", v)[0]
        for i, v in enumerate(DIS_MAX_VALUES)
    ]
    union = " UNION ALL ".join(
        f"SELECT doc_id, score FROM s{i}"
        for i in range(len(DIS_MAX_VALUES))
    )
    return f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM chunks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM chunks GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n, avg(dl) AS avgdl FROM dl),
{", ".join(clauses)},
u AS ({union})
SELECT doc_id, round(s, 4) AS score FROM (
  SELECT doc_id,
         max(score) + {DIS_MAX_TIE} * (sum(score) - max(score)) AS s
  FROM u GROUP BY doc_id
) g
ORDER BY s DESC, doc_id
LIMIT 10"""


def _boosting_oracle() -> str:
    """ES boosting query: positive conjunctive BM25, negative-match
    docs demoted by x negative_boost before the top-k."""
    terms = sorted(set(_bm25_terms))
    in_list = ", ".join("'" + t + "'" for t in terms)
    k1, b = TOK_CFG.bm25_k1, TOK_CFG.bm25_b
    neg_sel = sql_oracle.docs_select(_excl_node(), TOK_CFG)
    return f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM chunks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM chunks GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN ({in_list}) GROUP BY term),
hits AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5))
             * tf.tf * ({k1} + 1)
             / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / s.avgdl))) AS score,
         count(DISTINCT tf.term) AS nt
  FROM tf
  JOIN dfs USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY tf.doc_id
),
neg AS ({neg_sel})
SELECT doc_id, round(s, 4) AS score FROM (
  SELECT doc_id,
         CASE WHEN doc_id IN (SELECT doc_id FROM neg)
              THEN score * {BOOSTING_NEG_BOOST} ELSE score END AS s
  FROM hits WHERE nt = {len(terms)}
) g
ORDER BY s DESC, doc_id
LIMIT 10"""


def _bm25_hits_ctes(docs_table: str = "documents") -> tuple[str, int]:
    """The shared conjunctive-BM25 ``hits`` CTE block for the flagship
    value (chunks -> tf/dl/stats/dfs -> per-doc unrounded score + nt).
    The ONE copy of the oracle BM25 formula: `_bm25_oracle` (and so
    the 20+ gates built on it), `_custom_score_oracle`, and the
    unrounded-downstream oracles (top_children / custom_filters_score
    — rounding per doc before a sum/multiply would drift at the 4th
    decimal) all compose from here. Returns (cte_block, n_terms)."""
    terms = sorted(set(_bm25_terms))
    in_list = ", ".join("'" + t + "'" for t in terms)
    k1, b = TOK_CFG.bm25_k1, TOK_CFG.bm25_b
    cte = (
        _TOK_CTE
        if docs_table == "documents"
        else sql_oracle.chunks_cte_tokens(TOK_CFG, docs_table=docs_table)
    )
    return (
        f"""{cte},
tf AS (SELECT doc_id, term, count(*) AS tf FROM chunks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM chunks GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM {docs_table}) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN ({in_list}) GROUP BY term),
hits AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5))
             * tf.tf * ({k1} + 1)
             / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / s.avgdl))) AS score,
         count(DISTINCT tf.term) AS nt
  FROM tf
  JOIN dfs USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)""",
        len(terms),
    )


def _top_children_oracle() -> str:
    """Parents ranked by the sum of their children's UNROUNDED
    conjunctive BM25 scores (rounded only after the aggregate)."""
    ctes, nt = _bm25_hits_ctes()
    return f"""
WITH {ctes}
SELECT parent, round(s, 4) AS score FROM (
  SELECT d.source AS parent, sum(h.score) AS s
  FROM hits h JOIN documents d USING (doc_id)
  WHERE h.nt = {nt}
  GROUP BY d.source
) g
ORDER BY s DESC, parent
LIMIT 10"""


def _custom_filters_score_oracle() -> str:
    """FiltersFunctionScoreQuery score_mode=first: per doc, the boost
    of the FIRST matching filter in list order (arg_min over the list
    position), 1 when none match, multiplied into the unrounded BM25
    score before the top-k."""
    ctes, nt = _bm25_hits_ctes()
    f0 = sql_oracle.docs_select(_excl_node(), TOK_CFG)
    f1 = sql_oracle.docs_select(
        qc.wildcard_query("c?stomer", TOK_CFG), TOK_CFG
    )
    b0, b1 = CFS_FILTERS_SPEC[0][1], CFS_FILTERS_SPEC[1][1]
    return f"""
WITH {ctes},
fb AS (
  SELECT doc_id, arg_min(boost, ord) AS boost FROM (
    SELECT doc_id, 0 AS ord, {b0} AS boost FROM ({f0}) q0
    UNION ALL
    SELECT doc_id, 1 AS ord, {b1} AS boost FROM ({f1}) q1
  ) u GROUP BY doc_id
)
SELECT doc_id, round(s, 4) AS score FROM (
  SELECT h.doc_id, h.score * coalesce(fb.boost, 1.0) AS s
  FROM hits h LEFT JOIN fb USING (doc_id)
  WHERE h.nt = {nt}
) g
ORDER BY s DESC, doc_id
LIMIT 10"""


def _custom_boost_factor_oracle() -> str:
    """BM25 hits times the constant 2.5, rounded AFTER the multiply
    and ordered by the unrounded product (matching the engine, which
    orders before the gate's display rounding)."""
    ctes, nt = _bm25_hits_ctes()
    return f"""
WITH {ctes}
SELECT doc_id, round(s, 4) AS score FROM (
  SELECT doc_id, score * 2.5 AS s FROM hits WHERE nt = {nt}
) g
ORDER BY s DESC, doc_id
LIMIT 10"""


def _custom_score_oracle() -> str:
    """Conjunctive BM25 hits re-scored by CUSTOM_SCORE_SCRIPT's exact
    formula over documents.n_chars (the _source field the script
    reads), ranked by the script result."""
    ctes, nt = _bm25_hits_ctes()
    return f"""
WITH {ctes}
SELECT doc_id, round(s, 4) AS score FROM (
  SELECT h.doc_id,
         h.score * (1.0 + ln(1 + d.n_chars) / 10.0) AS s
  FROM hits h JOIN documents d USING (doc_id)
  WHERE h.nt = {nt}
) g
ORDER BY s DESC, doc_id
LIMIT 10"""


def _analyze_tokens_oracle() -> str:
    """Pure-SQL recomputation of the A1 attribute stream over md5(text)
    for the 1-in-13 sample: term = prefix || 4-char gram, pos = chunk
    index, offsets = (pos*L, min(pos*L+L, len))."""
    L = HASH_CFG.chunk_length
    pfx = HASH_CFG.prefixes.replace("'", "''")
    pc = HASH_CFG.prefix_count
    return f"""
WITH vals AS (
  SELECT doc_id, md5(text) AS v FROM documents WHERE doc_id % 13 = 0
),
g AS (
  SELECT doc_id, v,
         unnest(generate_series(1, CAST(ceil(length(v) / {L}.0) AS INT))) AS i
  FROM vals
)
SELECT doc_id,
       i - 1 AS pos,
       substr('{pfx}', ((i - 1) % {pc}) + 1, 1)
         || substr(v, (i - 1) * {L} + 1, {L}) AS term,
       (i - 1) * {L} AS start_offset,
       least(i * {L}, length(v)) AS end_offset
FROM g
ORDER BY doc_id, pos"""


def _bm25_explain_oracle() -> str:
    """Per-term BM25 breakdown of the lowest-doc_id conjunctive match —
    mirrors SearchEngine.explain (weights are all 1: BM25_QUERY's
    analyzed chunk terms are distinct)."""
    terms = sorted(set(_bm25_terms))
    in_list = ", ".join("'" + t + "'" for t in terms)
    k1, b = TOK_CFG.bm25_k1, TOK_CFG.bm25_b
    idf = "ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5))"
    return f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM chunks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM chunks GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n, avg(dl) AS avgdl FROM dl),
dfs AS (SELECT term, count(*) AS df FROM tf
        WHERE term IN ({in_list}) GROUP BY term),
target AS (
  SELECT min(doc_id) AS did FROM (
    SELECT doc_id FROM tf WHERE term IN ({in_list})
    GROUP BY doc_id HAVING count(DISTINCT term) = {len(terms)}) m
)
SELECT tf.term,
       1 AS weight,
       dfs.df,
       round({idf}, 6) AS idf,
       tf.tf,
       dl.dl,
       round({idf} * tf.tf * ({k1} + 1)
             / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / s.avgdl)), 6)
         AS contribution
FROM tf
JOIN dfs USING (term)
JOIN dl USING (doc_id)
CROSS JOIN stats s
JOIN target ON tf.doc_id = target.did
ORDER BY tf.term"""


def _text_metrics_oracle() -> str:
    from elasticsearch_analysis_hashsplitter_spark.operators.text import (
        EN_STOPWORDS,
        LANG_MARKERS,
    )

    stop = ", ".join("'" + w + "'" for w in EN_STOPWORDS)
    counts = {
        code: "len(list_filter(l, x -> x IN ("
        + ", ".join("'" + w + "'" for w in LANG_MARKERS[code])
        + ")))"
        for code in sorted(LANG_MARKERS)
    }
    cexp = ", ".join(f"{v} AS c_{k}" for k, v in counts.items())
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '{WS_RUN_REGEX}'), x -> x <> '') AS l
  FROM documents
),
m AS (
  SELECT doc_id, l, len(l) AS n,
         CASE WHEN len(l) > 0 THEN
           list_aggregate(list_transform(l, x -> length(x)), 'sum')::DOUBLE / len(l)
         ELSE 0.0 END AS alen,
         CASE WHEN len(l) > 0 THEN
           len(list_filter(l, x -> x IN ({stop})))::DOUBLE / len(l)
         ELSE 0.0 END AS swr,
         {cexp}
  FROM t
)
SELECT doc_id,
       n AS n_tokens,
       round(alen, 4) AS avg_token_len,
       round(swr, 4) AS stopword_ratio,
       round(((CASE WHEN n BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN swr > 0.0 AND swr < 0.8 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN alen >= 2.0 AND alen <= 12.0 THEN 1.0 ELSE 0.0 END)
             ) / 3.0, 4) AS quality,
       CASE WHEN greatest(c_de, c_en, c_es, c_fr) = 0 THEN 'und'
            WHEN c_de = greatest(c_de, c_en, c_es, c_fr) THEN 'de'
            WHEN c_en = greatest(c_de, c_en, c_es, c_fr) THEN 'en'
            WHEN c_es = greatest(c_de, c_en, c_es, c_fr) THEN 'es'
            ELSE 'fr' END AS lang_id,
       md5(array_to_string(list_sort(list_distinct(l)), ' ')) AS fingerprint
FROM m
ORDER BY doc_id"""


def _bm25_batch_oracle() -> str:
    k1, b = TOK_CFG.bm25_k1, TOK_CFG.bm25_b
    q_rows = []
    for t in BATCH_QUERIES:
        for term in sorted(set(qc.field_query(t, TOK_CFG).terms)):
            q_rows.append(f"('q_{t}', '{term}')")
    values = ", ".join(q_rows)
    return f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM chunks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM chunks GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n, avg(dl) AS avgdl FROM dl),
q(query_id, term) AS (VALUES {values}),
qn AS (SELECT query_id, count(DISTINCT term) AS nt FROM q GROUP BY query_id),
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN (SELECT term FROM q) GROUP BY term
),
hits AS (
  SELECT q.query_id, tf.doc_id,
         sum(ln(1 + (s.n - dfs.df + 0.5) / (dfs.df + 0.5))
             * tf.tf * ({k1} + 1)
             / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / s.avgdl))) AS score,
         count(DISTINCT tf.term) AS nt
  FROM q
  JOIN tf USING (term)
  JOIN dfs USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT hits.query_id, doc_id, round(hits.score, 4) AS score,
         row_number() OVER (
           PARTITION BY hits.query_id ORDER BY hits.score DESC, doc_id
         ) AS rank
  FROM hits JOIN qn ON qn.query_id = hits.query_id AND hits.nt = qn.nt
)
SELECT query_id, doc_id, score, rank::BIGINT AS rank FROM ranked
WHERE rank <= 10
ORDER BY query_id, rank"""


def _bpe_oracle() -> str:
    from elasticsearch_analysis_hashsplitter_spark.operators.text import (
        BPE_PRETOKEN_RE,
    )

    lit = "'" + BPE_PRETOKEN_RE.replace("'", "''") + "'"
    return (
        f"SELECT doc_id, len(regexp_extract_all(text, {lit}))::INT AS n_bpe "
        "FROM documents ORDER BY doc_id"
    )


def _jaccard_oracle(threshold: float) -> str:
    """Exact 3-gram shingle-Jaccard pairs at ``threshold`` — the oracle
    for both the exact ngram operator (0.3) and the MinHash-LSH operator
    (0.5: every true >=0.5 pair in this corpus has J >= 0.9, where the
    banded LSH's recall is deterministically 1 — see _q_minhash_pairs)."""
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '{WS_RUN_REGEX}'), x -> x <> '') AS l
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS shingle
  FROM (
    SELECT doc_id, l,
           unnest(generate_series(1, greatest(len(l) - 2, 0))) AS i
    FROM t
  ) x
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= {threshold}
ORDER BY doc_a, doc_b"""


def _jaccard_capped_oracle(threshold: float, cap: int) -> str:
    """SQL replica of ngram_jaccard_pairs(max_shingle_df=cap): candidate
    pairs only through shingles with df <= cap, exact Jaccard recount
    over ALL shingles for the survivors — identical semantics to
    operators/dedup.py:ngram_jaccard_pairs (capped branch), so the gate
    verifies the df-cut machinery itself."""
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '{WS_RUN_REGEX}'), x -> x <> '') AS l
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS shingle
  FROM (
    SELECT doc_id, l,
           unnest(generate_series(1, greatest(len(l) - 2, 0))) AS i
    FROM t
  ) x
),
light AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {cap}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN light la ON a.shingle = la.shingle
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= {threshold}
ORDER BY c.doc_a, c.doc_b"""


def _simhash_oracle() -> str:
    """Independent SQL recomputation of the md5_60 simhash: 60-bit token
    hash via hex parse, tf-weighted bit-majority (60 aggregate terms),
    then brute-force O(n^2) hamming<=3 pairs — no banding, so it also
    re-proves the pigeonhole blocking loses nothing."""
    bits = " + ".join(
        f"(CASE WHEN sum(w * ((((h >> {j}) & 1) * 2) - 1)) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(60)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '{WS_RUN_REGEX}'),
                            x -> x <> '')) AS tok
  FROM documents
),
tw AS (SELECT doc_id, tok, count(*) AS w FROM toks GROUP BY doc_id, tok),
hh AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h, w
       FROM tw),
fp AS (SELECT doc_id, ({bits})::BIGINT AS simhash FROM hh GROUP BY doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b"""


def _multimodal_oracle() -> str:
    """Regenerates the synthetic media table (ASCII payloads), the
    payload sha256, and the exact 20-bit feature integers in pure SQL."""
    return """
WITH m AS (
  SELECT i AS media_id,
         repeat(sha256(concat('42', ':', i)), 4) AS payload_str
  FROM range(0, 200) t(i)
),
h AS (SELECT media_id, sha256(payload_str) AS sha FROM m)
SELECT media_id,
       sha AS payload_sha256,
       (('0x' || substr(sha, 1, 8))::BIGINT >> 12) AS f0_u20,
       (('0x' || substr(sha, 57, 8))::BIGINT >> 12) AS f7_u20
FROM h ORDER BY media_id"""


def _percolate_oracle() -> str:
    """Each registered percolator query re-derived independently via the
    IR -> SQL translator, unioned under its name. The pure-negative
    query's complement base is ALL documents (not just chunk-producing
    ones) — ES percolates every submitted doc, termless or not."""
    all_docs = "SELECT doc_id FROM documents"
    arms = [
        f"SELECT doc_id, '{name}' AS query_name FROM "
        f"({sql_oracle.docs_select(node, TOK_CFG, all_docs_sql=all_docs)}) "
        f"a_{i}"
        for i, (name, node) in enumerate(sorted(_perc_queries().items()))
    ]
    union = "\nUNION ALL\n".join(arms)
    return f"""
WITH {_TOK_CTE}
SELECT doc_id, query_name FROM ({union}) u
WHERE doc_id % 7 = 3
ORDER BY doc_id, query_name"""


def oracle_sql() -> dict[str, str]:
    lex = f"""
WITH {_TOK_CTE},
d AS (SELECT DISTINCT doc_id, term FROM chunks)
SELECT term, count(*)::BIGINT AS df FROM d GROUP BY term
ORDER BY df DESC, term LIMIT 100"""

    jacc = _jaccard_oracle(0.3)

    ann_lsh = f"""
WITH {_planted_cte()},
q AS (SELECT embedding AS qe FROM emb WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(embedding, qe), 4) AS cos
FROM allv, q
ORDER BY round(list_cosine_similarity(embedding, qe), 6) DESC, vec_id
LIMIT 10"""

    ann_lsh_batch = f"""
WITH {_planted_cte()},
q AS (SELECT vec_id AS query_id, embedding AS qe FROM allv
      WHERE vec_id IN (0, {PLANT_CLUSTER_BASE + 2}, {PLANT_CLUSTER_BASE + 7}))
SELECT query_id, vec_id,
       round(list_cosine_similarity(embedding, qe), 4) AS cos
FROM allv, q
QUALIFY row_number() OVER (
    PARTITION BY query_id
    ORDER BY round(list_cosine_similarity(embedding, qe), 6) DESC, vec_id
) <= 10
ORDER BY query_id, cos DESC, vec_id"""

    near_dup_lsh = f"""
WITH {_planted_cte()}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cos
FROM allv a JOIN allv b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.9
ORDER BY vec_a, vec_b"""

    multifield = f"""
WITH {_TOK_CTE}
SELECT doc_id FROM (
  {sql_oracle.docs_select(qc.field_query("spark", TOK_CFG, scored=True), TOK_CFG)}
) q
WHERE doc_id IN (SELECT doc_id FROM documents WHERE md5(text) LIKE '0%')
ORDER BY doc_id"""

    # concurrent serving: per-value conjunctive BM25 top-10 with ranks
    serve_parts = []
    for vi, v in enumerate(SERVE_VALUES):
        v_terms = sorted(set(qc.field_query(v, TOK_CFG).terms))
        v_in = ", ".join("'" + t + "'" for t in v_terms)
        serve_parts.append(f"""
SELECT '{v}' AS query_id, doc_id, round(score, 4) AS score, rank
FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM (
    SELECT tf.doc_id,
           sum(ln(1 + (s.n - d{vi}.df + 0.5) / (d{vi}.df + 0.5))
               * tf.tf * ({TOK_CFG.bm25_k1} + 1)
               / (tf.tf + {TOK_CFG.bm25_k1}
                  * (1 - {TOK_CFG.bm25_b}
                     + {TOK_CFG.bm25_b} * dl.dl / s.avgdl))) AS score,
           count(DISTINCT tf.term) AS nt
    FROM tf
    JOIN (SELECT term, count(*) AS df FROM tf
          WHERE term IN ({v_in}) GROUP BY term) d{vi}
      ON tf.term = d{vi}.term
    JOIN dl USING (doc_id)
    CROSS JOIN stats s
    GROUP BY tf.doc_id
  ) h
  WHERE nt = {len(v_terms)}
) r
WHERE rank <= 10""")
    serve_search = f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM chunks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM chunks GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n, avg(dl) AS avgdl FROM dl)
{" UNION ALL ".join(serve_parts)}
ORDER BY query_id, rank"""

    # cross-field scored: per-field BM25 against each field's OWN stats
    # (content token chunks vs md5-hash chunks), summed on doc_id
    mfs_terms = sorted(set(qc.field_query("spark", TOK_CFG).terms))
    mfs_in = ", ".join("'" + t + "'" for t in mfs_terms)
    pfx = TOK_CFG.prefixes.replace("'", "''")
    k1, b = TOK_CFG.bm25_k1, TOK_CFG.bm25_b
    multifield_scored = f"""
WITH {_TOK_CTE},
hvals AS (SELECT doc_id, md5(text) AS v FROM documents),
hchunks AS (
  SELECT doc_id,
         substr('{pfx}', ((i - 1) % {TOK_CFG.prefix_count}) + 1, 1)
           || substr(v, (i - 1) * 4 + 1, 4) AS term
  FROM (SELECT doc_id, v,
               unnest(generate_series(1, CAST(ceil(length(v) / 4.0) AS INT))) AS i
        FROM hvals) t
),
qh AS (SELECT DISTINCT term FROM hchunks WHERE doc_id = 0),
tf_c AS (SELECT doc_id, term, count(*) AS tf FROM chunks GROUP BY doc_id, term),
dl_c AS (SELECT doc_id, count(*) AS dl FROM chunks GROUP BY doc_id),
st_c AS (SELECT (SELECT count(*) FROM documents) AS n, avg(dl) AS avgdl FROM dl_c),
df_c AS (SELECT term, count(*) AS df FROM tf_c WHERE term IN ({mfs_in}) GROUP BY term),
sc_c AS (
  SELECT tf_c.doc_id,
         sum(ln(1 + (s.n - df_c.df + 0.5) / (df_c.df + 0.5))
             * tf_c.tf * ({k1} + 1)
             / (tf_c.tf + {k1} * (1 - {b} + {b} * dl_c.dl / s.avgdl))) AS score,
         count(DISTINCT tf_c.term) AS nt
  FROM tf_c JOIN df_c USING (term) JOIN dl_c USING (doc_id) CROSS JOIN st_c s
  GROUP BY tf_c.doc_id
),
tf_h AS (SELECT doc_id, term, count(*) AS tf FROM hchunks GROUP BY doc_id, term),
dl_h AS (SELECT doc_id, count(*) AS dl FROM hchunks GROUP BY doc_id),
st_h AS (SELECT (SELECT count(*) FROM documents) AS n, avg(dl) AS avgdl FROM dl_h),
df_h AS (SELECT tf_h.term, count(*) AS df FROM tf_h JOIN qh USING (term) GROUP BY tf_h.term),
sc_h AS (
  SELECT tf_h.doc_id,
         sum(ln(1 + (s.n - df_h.df + 0.5) / (df_h.df + 0.5))
             * tf_h.tf * ({k1} + 1)
             / (tf_h.tf + {k1} * (1 - {b} + {b} * dl_h.dl / s.avgdl))) AS score,
         count(DISTINCT tf_h.term) AS nt
  FROM tf_h JOIN df_h ON tf_h.term = df_h.term
  JOIN dl_h USING (doc_id) CROSS JOIN st_h s
  GROUP BY tf_h.doc_id
),
u AS (
  SELECT doc_id, score FROM sc_c WHERE nt = {len(mfs_terms)}
  UNION ALL
  SELECT doc_id, score FROM sc_h WHERE nt = (SELECT count(*) FROM qh)
)
"""
    multifield_best_fields = multifield_scored + f"""
SELECT doc_id, round(s, 4) AS score FROM (
  SELECT doc_id,
         max(score) + {BEST_FIELDS_TIE} * (sum(score) - max(score)) AS s
  FROM u GROUP BY doc_id
) g
ORDER BY s DESC, doc_id
LIMIT 10"""
    multifield_scored = multifield_scored + """
SELECT doc_id, round(sum(score), 4) AS score
FROM u GROUP BY doc_id
ORDER BY sum(score) DESC, doc_id
LIMIT 10"""

    ann = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], qe::DOUBLE[]), 4) AS cos
FROM embeddings, q
ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe::DOUBLE[]) DESC, vec_id
LIMIT 10"""

    return {
        "lexicon_top100": lex,
        "term_query": _tok_ir_sql(qc.field_query("spark", TOK_CFG, scored=True)),
        "streaming_term_query": _tok_ir_sql(
            qc.field_query("spark", TOK_CFG, scored=True)
        ),
        "chunk_term_query": _tok_ir_sql(qc.chunk_term_query("Aspar")),
        "prefix_query": _tok_ir_sql(qc.prefix_query("windo", TOK_CFG)),
        "wildcard_prefix_query": _tok_ir_sql(qc.wildcard_query("s?ar*", TOK_CFG)),
        "wildcard_mid_query": _tok_ir_sql(qc.wildcard_query("c?stomer", TOK_CFG)),
        "bm25_topk": _bm25_oracle(),
        "bm25_topk_or": _bm25_oracle(conjunctive=False),
        # ES bool must+must_not: the IR tree (with its Not arm rendered
        # as EXCEPT) through the same translator the other filter gates use
        "bool_must_not": _tok_ir_sql(
            qc.bool_filter(
                must=[qc.field_query("spark", TOK_CFG, scored=False)],
                must_not=[qc.prefix_query("windo", TOK_CFG)],
            )
        ),
        # pure-negative bool: complement against the FULL corpus (the
        # engine's docstats base), not merely docs that have chunks
        "bool_pure_not": (
            f"WITH {_TOK_CTE} SELECT doc_id FROM ("
            + sql_oracle.docs_select(
                qc.bool_filter(
                    must_not=[
                        qc.prefix_query("windo", TOK_CFG),
                        qc.field_query("spark", TOK_CFG, scored=False),
                    ]
                ),
                TOK_CFG,
                all_docs_sql="SELECT doc_id FROM documents",
            )
            + ") q ORDER BY doc_id"
        ),
        # scored must_not: survivors keep their full-corpus BM25 scores
        "bm25_topk_excluded": _bm25_oracle(
            final_pred=(
                "doc_id NOT IN (SELECT doc_id FROM ("
                + sql_oracle.docs_select(
                    qc.prefix_query("windo", TOK_CFG), TOK_CFG
                )
                + ") _x)"
            )
        ),
        "bm25_min_should_match": _bm25_oracle(conjunctive=False, min_nt=2),
        # ES scroll: the page-walk reassembly must equal the one-shot
        # total order over the same 4-page (200-row) prefix
        "scroll_all": _bm25_oracle(limit=200),
        # ES filtered query: membership restricted to the filter side
        "bm25_topk_filtered": _bm25_oracle(
            final_pred=(
                "doc_id IN (SELECT doc_id FROM ("
                + sql_oracle.docs_select(
                    qc.prefix_query("windo", TOK_CFG), TOK_CFG
                )
                + ") _f)"
            )
        ),
        # ES _stats: index-level counters recomputed from the raw corpus.
        # avgdl averages over ALL indexed docs (left join: a doc whose
        # text analyzes to zero tokens has a docstats row with dl=0 in
        # the engine and must count in the denominator here too)
        "index_stats": f"""
WITH {_TOK_CTE},
dl AS (SELECT doc_id, count(*) AS dl FROM chunks GROUP BY doc_id)
SELECT (SELECT count(*) FROM documents)::BIGINT AS docs_count,
       0::BIGINT AS docs_deleted,
       round(avg(coalesce(dl.dl, 0)), 4) AS avgdl,
       sum(coalesce(dl.dl, 0))::BIGINT AS total_terms
FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id""",
        # ES count API
        "count_query": f"""
WITH {_TOK_CTE}
SELECT count(*)::BIGINT AS n FROM (
  {sql_oracle.docs_select(qc.prefix_query("windo", TOK_CFG), TOK_CFG)}
) q""",
        # ES more_like_this: term selection (top tf*idf of doc 0, term
        # asc tie-break) + disjunctive BM25 excluding the source doc
        "more_like_this": f"""
WITH {_TOK_CTE},
tf AS (SELECT doc_id, term, count(*) AS tf FROM chunks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM chunks GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n, avg(dl) AS avgdl FROM dl),
dfs_all AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sel AS (
  SELECT t.term, da.df
  FROM tf t JOIN dfs_all da USING (term) CROSS JOIN stats s
  WHERE t.doc_id = 0
  ORDER BY t.tf * ln(1 + (s.n - da.df + 0.5) / (da.df + 0.5)) DESC, t.term
  LIMIT 10
),
hits AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n - sel.df + 0.5) / (sel.df + 0.5))
             * tf.tf * ({TOK_CFG.bm25_k1} + 1)
             / (tf.tf + {TOK_CFG.bm25_k1}
                * (1 - {TOK_CFG.bm25_b}
                   + {TOK_CFG.bm25_b} * dl.dl / s.avgdl))) AS score
  FROM tf JOIN sel USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  WHERE tf.doc_id <> 0
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS score FROM hits
ORDER BY score DESC, doc_id
LIMIT 10""",
        # ES sort on a field: match set ordered by n_chars desc
        "sort_by_field": f"""
WITH {_TOK_CTE}
SELECT d.doc_id, d.n_chars
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM (
  {sql_oracle.docs_select(qc.field_query("spark", TOK_CFG, scored=False), TOK_CFG)}
) m)
ORDER BY d.n_chars DESC, d.doc_id
LIMIT 10""",
        "sort_multi_field": f"""
WITH {_TOK_CTE}
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM (
  {sql_oracle.docs_select(qc.field_query("spark", TOK_CFG, scored=False), TOK_CFG)}
) m)
ORDER BY d.lang ASC, d.n_chars DESC, d.doc_id
LIMIT 15""",
        # ES highlight: first-match token-window fragment with <em> marks;
        # DuckDB list lambdas are 1-based where Spark's transform index is
        # 0-based, hence the i-1
        "highlight_first": f"""
WITH {_TOK_CTE},
hits AS (
  {sql_oracle.docs_select(qc.field_query("spark", TOK_CFG, scored=False), TOK_CFG)}
),
tok AS (
  SELECT d.doc_id,
         string_split_regex(d.text, '{WS_RUN_REGEX}') AS toks
  FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM hits)
),
m AS (
  SELECT doc_id, toks,
         list_position(toks, 'spark') AS idx,
         len(list_filter(toks, t -> t = 'spark'))::BIGINT AS n_matches
  FROM tok
)
SELECT doc_id, n_matches,
       array_to_string(
         list_transform(
           toks[greatest(1, idx - 2):greatest(1, idx - 2) + 4],
           (x, i) -> CASE WHEN greatest(1, idx - 2) + i - 1 = idx
                          THEN '<em>' || x || '</em>' ELSE x END
         ), ' ') AS fragment
FROM m WHERE n_matches > 0
ORDER BY doc_id""",
        "bm25_topk_batch": _bm25_batch_oracle(),
        "bm25_explain": _bm25_explain_oracle(),
        # ES search_after: page 2 == OFFSET 10 on the strict total order
        "bm25_topk_page2": _bm25_oracle(offset=10),
        # ES _source fetch: the bm25 oracle's top-10 joined back to the
        # corpus columns
        "search_fetch": f"""
SELECT t.doc_id, t.score, d.lang, d.n_chars
FROM ({_bm25_oracle()}) t JOIN documents d USING (doc_id)
ORDER BY t.score DESC, t.doc_id""",
        # ES terms facet over the conjunctive match doc set
        "lang_facet": f"""
WITH {_TOK_CTE}
SELECT d.lang AS value, count(*)::BIGINT AS count
FROM documents d
WHERE d.doc_id IN (
  SELECT doc_id FROM (
    {sql_oracle.docs_select(qc.field_query(BM25_QUERY, TOK_CFG, scored=False), TOK_CFG)}
  ) m)
GROUP BY d.lang
ORDER BY count DESC, value
LIMIT 10""",
        # facet "global": true — the whole index, query ignored
        "global_facet": """
SELECT lang AS value, count(*)::BIGINT AS count
FROM documents
GROUP BY lang
ORDER BY count DESC, value
LIMIT 10""",
        # ES multi-get: live indexed docs by id; unknown ids absent
        "mget": (
            "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id IN ("
            + ", ".join(str(i) for i in MGET_IDS)
            + ") ORDER BY doc_id"
        ),
        # ES statistical facet over the same doc set (n_chars integral:
        # all aggregates order-independent and exact in both engines)
        "stats_facet": f"""
WITH {_TOK_CTE}
SELECT count(*)::BIGINT AS count,
       min(CAST(d.n_chars AS DOUBLE)) AS min,
       max(CAST(d.n_chars AS DOUBLE)) AS max,
       sum(CAST(d.n_chars AS DOUBLE)) AS total,
       avg(CAST(d.n_chars AS DOUBLE)) AS mean,
       sum(CAST(d.n_chars AS DOUBLE) * CAST(d.n_chars AS DOUBLE))
         AS sum_of_squares
FROM documents d
WHERE d.doc_id IN (
  SELECT doc_id FROM (
    {sql_oracle.docs_select(qc.field_query(BM25_QUERY, TOK_CFG, scored=False), TOK_CFG)}
  ) m)""",
        # ES range facet: lo-inclusive / hi-exclusive / None-open,
        # overlapping allowed, empty ranges emit a zero row (LEFT JOIN)
        "range_facet": f"""
WITH {_TOK_CTE},
m AS (SELECT doc_id FROM (
  {sql_oracle.docs_select(qc.field_query(BM25_QUERY, TOK_CFG, scored=False), TOK_CFG)}
) q),
b(rid, lo, hi) AS (VALUES
  {", ".join(f"({i}, {('CAST(NULL AS DOUBLE)' if lo is None else lo)}, {('CAST(NULL AS DOUBLE)' if hi is None else hi)})" for i, (lo, hi) in enumerate(FACET_RANGES))}),
v AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
      WHERE doc_id IN (SELECT doc_id FROM m))
SELECT COALESCE(b.lo, 0.0) AS lo, COALESCE(b.hi, 0.0) AS hi,
       count(v.v)::BIGINT AS count,
       COALESCE(min(v.v), 0.0) AS min, COALESCE(max(v.v), 0.0) AS max,
       COALESCE(sum(v.v), 0.0) AS total,
       COALESCE(round(avg(v.v), 6), 0.0) AS mean
FROM b LEFT JOIN v
  ON (b.lo IS NULL OR v.v >= b.lo) AND (b.hi IS NULL OR v.v < b.hi)
GROUP BY b.rid, b.lo, b.hi
ORDER BY b.rid""",
        # ES query/filter facet: per-facet And(main, facet) counts;
        # the no-match facet renders its zero row
        "query_facet": f"""
WITH {_TOK_CTE},
m AS (SELECT doc_id FROM (
  {sql_oracle.docs_select(qc.field_query(BM25_QUERY, TOK_CFG, scored=False), TOK_CFG)}
) q)
SELECT name, count FROM (
  {" UNION ALL ".join(
      "SELECT '" + name + "' AS name, "
      "(SELECT count(*) FROM ("
      + sql_oracle.docs_select(fnode, TOK_CFG)
      + ") f WHERE f.doc_id IN (SELECT doc_id FROM m))::BIGINT AS count"
      for name, fnode in sorted(_query_facet_nodes().items())
  )}
) u
ORDER BY name""",
        # ES terms_stats facet: per-lang stats of n_chars (integral ->
        # exact aggregates), count desc / term asc, top 10
        "terms_stats_facet": f"""
WITH {_TOK_CTE}
SELECT d.lang AS term,
       count(*)::BIGINT AS count,
       min(CAST(d.n_chars AS DOUBLE)) AS min,
       max(CAST(d.n_chars AS DOUBLE)) AS max,
       sum(CAST(d.n_chars AS DOUBLE)) AS total,
       avg(CAST(d.n_chars AS DOUBLE)) AS mean
FROM documents d
WHERE d.doc_id IN (
  SELECT doc_id FROM (
    {sql_oracle.docs_select(qc.field_query(BM25_QUERY, TOK_CFG, scored=False), TOK_CFG)}
  ) m)
GROUP BY d.lang
ORDER BY count DESC, term
LIMIT 10""",
        # ES date_histogram facet: month buckets of the derived
        # deterministic timestamp, keys as yyyy-MM-dd strings
        "date_histogram_facet": f"""
WITH {_TOK_CTE}
SELECT strftime(date_trunc('month',
         DATE '2020-01-01' + (d.doc_id % 400) * INTERVAL 1 DAY),
         '%Y-%m-%d') AS key,
       count(*)::BIGINT AS count
FROM documents d
WHERE d.doc_id IN (
  SELECT doc_id FROM (
    {sql_oracle.docs_select(qc.field_query(BM25_QUERY, TOK_CFG, scored=False), TOK_CFG)}
  ) m)
GROUP BY key
ORDER BY key""",
        # ES histogram facet: fixed 100-wide buckets, empty absent
        "histogram_facet": f"""
WITH {_TOK_CTE}
SELECT floor(CAST(d.n_chars AS DOUBLE) / 100.0) * 100.0 AS key,
       count(*)::BIGINT AS count
FROM documents d
WHERE d.doc_id IN (
  SELECT doc_id FROM (
    {sql_oracle.docs_select(qc.field_query(BM25_QUERY, TOK_CFG, scored=False), TOK_CFG)}
  ) m)
GROUP BY key
ORDER BY key""",
        # tombstoned, stats stale (Lucene pre-merge): full-corpus
        # scoring, live-set membership
        "bm25_topk_deleted": _bm25_oracle(
            final_pred=f"doc_id % {DEL_MOD} <> {DEL_RES}"
        ),
        # purged by compact_index (Lucene expunge-at-merge): both
        # scoring stats and membership over the live corpus
        "bm25_topk_purged": _bm25_oracle(
            docs_table="live",
            prefix_cte=(
                f"live AS (SELECT * FROM documents "
                f"WHERE doc_id % {DEL_MOD} <> {DEL_RES}),"
            ),
        ),
        # _update_by_query: the match set is the engine's own chunk-AND
        # semantics (nested WITH so the match's chunk CTE over the
        # ORIGINAL corpus doesn't collide with the scoring CTE over the
        # updated one), content transformed by the same SQL expression
        "update_by_query": _bm25_oracle(
            docs_table="updated",
            prefix_cte=(
                "m AS (SELECT doc_id FROM ("
                f"WITH {_TOK_CTE} "
                + sql_oracle.docs_select(
                    qc.field_query(UBQ_MATCH, TOK_CFG, scored=False),
                    TOK_CFG,
                )
                + ") mq), "
                "updated AS (SELECT d.doc_id, CASE WHEN d.doc_id IN "
                f"(SELECT doc_id FROM m) THEN {UBQ_TEXT_SQL} ELSE d.text "
                "END AS text FROM documents d),"
            ),
        ),
        # upserted (update = delete + purge + reindex): scores over the
        # UPDATED corpus — replacements rewritten, new docs appended
        "bm25_topk_upserted": _bm25_oracle(
            docs_table="updated",
            prefix_cte=(
                "updated AS ("
                f"SELECT doc_id, CASE WHEN doc_id % {UPS_MOD} = {UPS_RES} "
                f"THEN {UPS_TEXT_SQL} ELSE text END AS text FROM documents "
                "UNION ALL SELECT * FROM (VALUES "
                + ", ".join(f"({i}, '{t}')" for i, t in UPS_NEW)
                + ") v(doc_id, text)),"
            ),
        ),
        # multi-index dfs_query_then_fetch == single merged index, plus
        # the parity index attribution
        "multi_index_search": f"""
SELECT doc_id, score,
       CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS idx
FROM ({_bm25_oracle()}) q""",
        "indices_query": _indices_query_oracle(),
        # disjoint halves + dfs: the alias batch == the merged-index
        # batch, shard attribution by parity
        "multi_index_batch": f"""
SELECT query_id, doc_id, score, rank,
       CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS idx
FROM ({_bm25_batch_oracle()}) b""",
        # same 600-row (4-page) prefix as the gate's page cap
        "scroll_scan": (
            f"WITH {_TOK_CTE} SELECT doc_id FROM ("
            + sql_oracle.docs_select(
                qc.prefix_query("windo", TOK_CFG), TOK_CFG
            )
            + ") q ORDER BY doc_id LIMIT 600"
        ),
        "percolate_matches": _percolate_oracle(),
        # semantic oracles on the raw derived value (stronger than mirroring)
        "hash_prefix_query": (
            "SELECT doc_id FROM documents WHERE md5(text) LIKE '0%' "
            "ORDER BY doc_id"
        ),
        "hash_wildcard_suffix": (
            "SELECT doc_id FROM documents WHERE md5(text) LIKE '%ff' "
            "ORDER BY doc_id"
        ),
        "hash_range_query": (
            "SELECT doc_id FROM documents WHERE md5(text) BETWEEN "
            f"'{'2' + '0' * 31}' AND '{'c' + 'f' * 31}' ORDER BY doc_id"
        ),
        "hash_range_open": "SELECT doc_id FROM documents ORDER BY doc_id",
        "search_wildcard_scored": f"""
WITH {_TOK_CTE}
SELECT doc_id, (2.0)::DOUBLE AS score FROM (
  {sql_oracle.docs_select(qc.wildcard_query("s?ar*", TOK_CFG), TOK_CFG)}
) q ORDER BY doc_id LIMIT 10""",
        "search_range_scored": (
            "SELECT doc_id, (3.0)::DOUBLE AS score FROM documents "
            f"WHERE md5(text) BETWEEN '{'2' + '0' * 31}' AND "
            f"'{'c' + 'f' * 31}' ORDER BY doc_id LIMIT 10"
        ),
        "dedup_exact": (
            "SELECT md5(text) AS digest, count(*)::BIGINT AS n_copies, "
            "min(doc_id) AS keep_id FROM documents GROUP BY md5(text) "
            "HAVING count(*) > 1 ORDER BY digest"
        ),
        "ngram_jaccard_pairs": jacc,
        "ngram_jaccard_capped": _jaccard_capped_oracle(0.3, 5),
        "minhash_pairs": _jaccard_oracle(0.5),
        "dedup_clusters": f"""
WITH RECURSIVE p AS ({_jaccard_oracle(0.5)}),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION SELECT doc_b, doc_a FROM p
),
reach(src, dst) AS (
  SELECT src, dst FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src ORDER BY doc_id""",
        "simhash_pairs": _simhash_oracle(),
        "winnow_pairs": _winnow_oracle(),
        "multimodal_features": _multimodal_oracle(),
        "ann_lsh_topk": ann_lsh,
        "ann_lsh_index_topk": ann_lsh,
        "ann_lsh_batch_topk": ann_lsh_batch,
        "ann_ivf_topk": ann_lsh,
        "ann_ivf_batch_topk": ann_lsh_batch,
        "embedding_near_dup_lsh": near_dup_lsh,
        "multifield_and_query": multifield,
        "multifield_scored": multifield_scored,
        "multifield_best_fields": multifield_best_fields,
        "dis_max_topk": _dis_max_oracle(),
        "boosting_topk": _boosting_oracle(),
        # parent/child: the md5-hash-field prefix match is the semantic
        # oracle form the hash gates use; parents = distinct source keys
        "has_child_query": (
            "SELECT DISTINCT source AS parent FROM documents "
            "WHERE md5(text) LIKE '0%' ORDER BY parent"
        ),
        "has_parent_query": (
            "SELECT doc_id FROM documents WHERE source LIKE 'src1%' "
            "ORDER BY doc_id"
        ),
        "top_children_sum": _top_children_oracle(),
        "script_filter": _bm25_oracle(
            final_pred=(
                "doc_id IN (SELECT doc_id FROM documents "
                f"WHERE {SCRIPT_FILTER_EXPR})"
            )
        ),
        "custom_filters_score": _custom_filters_score_oracle(),
        "match_all": (
            "SELECT doc_id, (1.0)::DOUBLE AS score FROM documents "
            "ORDER BY doc_id LIMIT 25"
        ),
        "custom_score_topk": _custom_score_oracle(),
        # ES ids query in a bool: intersection with the explicit id
        # list (absent ids match nothing)
        "ids_query": _tok_ir_sql(
            qc.bool_filter(
                must=[
                    qc.field_query("spark", TOK_CFG, scored=False),
                    qc.ids_query(IDS_LIST),
                ]
            )
        ),
        # ids as a scored-query filter: full-corpus stats, membership
        # restricted, scores untouched
        "bm25_topk_ids": _bm25_oracle(
            final_pred=(
                "doc_id IN ("
                + ", ".join(str(i) for i in IDS_LIST)
                + ")"
            )
        ),
        "custom_boost_factor": _custom_boost_factor_oracle(),
        "analyze_tokens": _analyze_tokens_oracle(),
        "serve_search": serve_search,
        "ann_cosine_topk": ann,
        "embedding_near_dup": """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 6) >= 0.35
ORDER BY vec_a, vec_b""",
        "windowed_event_stats": """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                '%Y-%m-%d %H:%M:%S') AS win,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY win, event_type""",
        "sessionize_events": """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN floor(epoch(ts))::BIGINT
                   - lag(floor(epoch(ts))::BIGINT) OVER w > 1800
              THEN 1 ELSE 0 END
           + CASE WHEN lag(ts) OVER w IS NULL THEN 1 ELSE 0 END
           AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING
         ) AS session_idx
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS s_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS s_end,
       count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS sum_value
FROM sess
GROUP BY user_id, session_idx
ORDER BY user_id, s_start""",
        "text_metrics": _text_metrics_oracle(),
        "quality_filter": f"""
SELECT doc_id FROM ({_text_metrics_oracle()}) m
WHERE quality >= 0.66 AND lang_id = 'en' AND n_tokens >= 20
ORDER BY doc_id""",
        "bpe_token_count": _bpe_oracle(),
        "iceberg_scan": (
            "SELECT doc_id, md5(text) AS text_md5, "
            "length(text)::INTEGER AS text_len FROM documents"
        ),
    }
