"""Distributed inverted-index build (the Spark-first analogue of Lucene's
segment write + merge, SURVEY.md §2.5 E6 / §3.1).

Pipeline (one wide shuffle, of encoded blocks):

  corpus (doc_id, content)
    -> pandas UDF: term->tf map per doc (Arrow-vectorized chunk tokenizer;
       tf aggregated inside the UDF so no (doc_id, term) groupBy shuffle)
    -> map-side segment builder: per input partition, flatten the term
       arrays, sort by (term, doc_id) and encode delta+varbyte blocks
    -> repartition(num_partitions, term): a term's fragments meet in one
       reducer, moving ~1-2 bytes/posting instead of raw rows
    -> segment merger: small fragments are decoded, merge-sorted and
       re-encoded into full blocks; fragments of >= block_size/2 pass
       through, so one term's blocks may have interleaved docID ranges
       (the block format permits it: every block's min/max stays exact)
    -> parquet postings + docstats, then one lexicon + stats pass
       (:func:`refresh_stats`, shared with every later mutation)

Resumability: the corpus can be built in ``n_slices`` deterministic
doc-hash slices, each written + manifested atomically; a re-run skips
slices whose manifest entry exists (per-partition lineage + metrics).
"""

from __future__ import annotations

import threading
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import HashSplitterConfig
from ..functions.codec import (
    decode_counts,
    decode_doc_ids,
    encode_block,
)
from ..functions.tokenize import JVM_WS_RUN_REGEX, term_counts_frame
from ..sources import catalog

DEFAULT_BLOCK_SIZE = 4096


def run_jobs_concurrently(*thunks):
    """Run independent Spark actions from a small driver thread pool so
    the scheduler overlaps them (guide §2.6: actions are only sequential
    because driver code calls them sequentially; a later job's tasks
    back-fill executors freed by the earlier job's tail). Callers must
    only pass thunks whose jobs are independent — no thunk may read
    files another thunk writes. Returns the thunk results in order;
    the first exception propagates after the running threads finish."""
    return run_jobs_pool(thunks, max_workers=len(thunks))


def run_jobs_pool(thunks, max_workers: int = 4):
    """:func:`run_jobs_concurrently` over a list, with a bounded pool —
    for fan-outs whose width follows the data (one thunk per victim
    slice): a few jobs in flight is enough to fill scheduler gaps
    without flooding the cluster (guide §2.6). After the first failure
    no further thunk starts (its output would be discarded anyway);
    thunks already running finish, then the exception propagates."""
    thunks = list(thunks)
    if not thunks:
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    from pyspark import SparkContext

    failed = threading.Event()
    # Spark local properties (job description, job group,
    # spark.scheduler.pool) are per thread: copy the caller's into each
    # worker, as pyspark.InheritableThread does, so overlapped jobs keep
    # the caller's tags and FAIR pool
    sc = SparkContext._active_spark_context
    props = None if sc is None else sc._jsc.sc().getLocalProperties().clone()

    def guarded(thunk):
        # a worker can dequeue the next thunk before the pool is shut
        # down below, so each thunk also checks for an earlier failure
        if failed.is_set():
            return None
        if props is not None:
            sc._jsc.sc().setLocalProperties(props.clone())
        try:
            return thunk()
        except BaseException:
            failed.set()
            raise

    with ThreadPoolExecutor(
        max_workers=min(max_workers, len(thunks))
    ) as pool:
        futures = [pool.submit(guarded, t) for t in thunks]
        done, _ = wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            if f in done and f.exception() is not None:
                pool.shutdown(cancel_futures=True)
                raise f.exception()
        return [f.result() for f in futures]


def adaptive_num_partitions(
    docs: DataFrame,
    floor: int = 2,
    bytes_per_partition: int = 64 * 1024,
) -> int:
    """Scale-adaptive shuffle-partition count for an index build over
    ``docs`` (guide §2: derive partitioning from input size instead of a
    constant tuned to one deployment).

    Uses Catalyst's ``sizeInBytes`` estimate of the source plan as the
    scale proxy — for file sources that is the (compressed) input bytes;
    ~64 KB of compressed source text explodes to roughly 10^5-10^6
    postings, a healthy per-task unit for the block builder. The count
    is clamped to ``[floor, spark.sql.shuffle.partitions]``: the conf
    cap keeps cluster deployments in charge of the upper bound (a 100 TB
    build with a properly sized ``spark.sql.shuffle.partitions`` still
    fans out fully), while small inputs stop paying hundreds of
    near-empty tasks per job. Sources whose size Catalyst cannot
    estimate (opaque UDF lineage, the unknown-stats sentinel) fall back
    to the conf value — exactly the old behavior. Callers that know
    better pass ``num_partitions`` explicitly.
    """
    spark = docs.sparkSession
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    try:
        est = int(
            str(
                docs._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:
        return cap
    if est <= 0 or est >= (1 << 50):  # unknown-stats sentinel
        return cap
    want = -(-est // bytes_per_partition)  # ceil
    return max(floor, min(cap, want))


def tokenize_corpus(
    docs: DataFrame,
    cfg: HashSplitterConfig,
    id_col: str = "doc_id",
    text_col: str = "content",
) -> DataFrame:
    """-> (doc_id, dl, content_sha256, tf map<term,int>).

    The tokenizer runs as an Arrow-vectorized pandas UDF (no per-row
    Python); sha256 is computed JVM-side for the per-row integrity
    invariant (BASELINE.json input_hint).
    """
    cfg_json = cfg.to_json()

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("terms", T.ArrayType(T.StringType())),
                T.StructField("tfs", T.ArrayType(T.IntegerType())),
                T.StructField("dl", T.LongType()),
            ]
        )
    )
    def tf_struct(s: pd.Series) -> pd.DataFrame:
        c = HashSplitterConfig.from_json(cfg_json)
        return term_counts_frame(s, c)

    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.sha2(F.col(text_col).cast("string"), 256).alias("content_sha256"),
        tf_struct(F.col(text_col).cast("string")).alias("tt"),
    ).select(
        "doc_id",
        "content_sha256",
        F.col("tt.terms").alias("terms"),
        F.col("tt.tfs").alias("tfs"),
        F.col("tt.dl").alias("dl"),
    )


def dl_expr(cfg: HashSplitterConfig, text_col: str):
    """Catalyst-only document length (total chunk-term count) — exactly the
    tokenizer's count, without running the Python UDF: lets docstats be a
    pure JVM scan instead of a second tokenize pass. Returns None when the
    config needs the full tokenizer (custom token_pattern)."""
    c = F.col(text_col).cast("string")
    L = cfg.chunk_length
    if cfg.token_mode == "tokens":
        if cfg.token_pattern != r"\S+":
            return None
        # JVM_WS_RUN_REGEX, not \s: Java \s is ASCII-only and plain (?U)\s
        # misses \x1C-\x1F, but the tokenizer splits on Arrow's full set;
        # any mismatch makes docstats dl diverge from the dls encoded in
        # the posting blocks and skews BM25 length normalization
        toks = F.filter(F.split(c, JVM_WS_RUN_REGEX), lambda t: t != "")
        return F.coalesce(
            F.aggregate(
                toks,
                F.lit(0).cast("long"),
                lambda a, t: a + F.ceil(F.length(t) / F.lit(float(L))),
            ),
            F.lit(0).cast("long"),
        )
    s = c
    if cfg.apply_input_cap:
        # exact Java String.trim(): strip chars <= U+0020 from both ends
        s = F.regexp_replace(
            F.substring(c, 1, 1024), r"^[\x00-\x20]+|[\x00-\x20]+$", ""
        )
    return F.ceil(F.length(s) / F.lit(float(L))).cast("long")


def _segment_builder(block_size: int):
    """Map-side segment build over the TOKENIZED rows (doc_id, dl,
    terms[], tfs[]): flatten the per-doc term arrays in-kernel
    (np.repeat/concatenate), sort locally by (term, doc_id), and emit
    encoded block rows — a Lucene-style per-partition segment. Memory
    is bounded by the input-split size
    (spark.sql.files.maxPartitionBytes).

    The flatten lives HERE, not in a JVM ``explode`` before the UDF
    (r6): Generate materializes one JVM row per posting (~35M rows per
    100k docs) and Arrow then ships each with its duplicated
    doc_id/dl, where the array form crosses the boundary once per DOC
    — measured 2.5x faster for the tokenize+segment stage (guide §4:
    control what crosses the Python boundary)."""

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        counts = pdf["terms"].str.len().to_numpy(dtype=np.int64)
        total = int(counts.sum())
        if total == 0:
            return
        doc_ids = np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), counts)
        dls = np.repeat(pdf["dl"].to_numpy(dtype=np.int64), counts)
        terms = np.concatenate(
            [np.asarray(a, dtype=object) for a in pdf["terms"]]
        )
        tfs = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in pdf["tfs"]]
        )
        # factorize first: integer lexsort, not object-string comparisons
        codes, _ = pd.factorize(terms, sort=False)
        order = np.lexsort((doc_ids, codes))
        terms, doc_ids = terms[order], doc_ids[order]
        tfs, dls = tfs[order], dls[order]
        change = np.flatnonzero(terms[1:] != terms[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(terms)]))
        rows = []
        for s, e in zip(starts, ends):
            for b in range(s, e, block_size):
                be = min(b + block_size, e)
                rows.append(
                    encode_block(
                        terms[s], doc_ids[b:be], tfs[b:be], dls[b:be]
                    )
                )
        if rows:
            yield pd.DataFrame(rows)

    return build


def _segment_merger(block_size: int, min_merge_df: int):
    """Reducer-side merge: all mini-blocks of a term land in one
    partition; small fragments are decoded, merge-sorted, and re-encoded
    into full blocks (terms whose fragments are already >= block_size/2
    pass through — re-encoding them buys nothing)."""

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        groups: dict[str, list] = {}
        for pdf in batches:
            for rec in pdf.itertuples(index=False):
                groups.setdefault(rec.term, []).append(rec)
        rows = []
        for term, recs in groups.items():
            if len(recs) == 1:
                # a lone fragment IS the term's merged form — decoding
                # and re-encoding it buys nothing. This is the common
                # case for high-cardinality/low-df term spaces (the
                # hash field: ~1 block per md5 chunk term), where the
                # per-term decode loop dominated the merge stage (r6).
                rows.append(recs[0]._asdict())
                continue
            small = [r for r in recs if r.df < min_merge_df]
            for r in recs:
                if r.df >= min_merge_df:
                    rows.append(r._asdict())
            if not small:
                continue
            d = np.concatenate([decode_doc_ids(r.docs) for r in small])
            t = np.concatenate([decode_counts(r.tfs) for r in small])
            l = np.concatenate([decode_counts(r.dls) for r in small])
            order = np.argsort(d, kind="stable")
            d, t, l = d[order], t[order], l[order]
            for b in range(0, d.size, block_size):
                be = min(b + block_size, d.size)
                rows.append(encode_block(term, d[b:be], t[b:be], l[b:be]))
        if rows:
            yield pd.DataFrame(rows)

    return merge


def build_postings_blocks_segmented(
    tokenized: DataFrame,
    num_partitions: int,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """Segment-build + shuffle-merge strategy (the north_star pipeline,
    and the scale-optimal one): per-input-partition sorted segments are
    encoded map-side, so the term shuffle moves delta+varbyte *blocks*
    (~1-2 bytes/posting) instead of raw rows (~50 bytes/posting) — an
    order of magnitude less exchange volume; the reducer consolidates
    each term's fragments into full blocks."""
    src = tokenized.select("doc_id", "dl", "terms", "tfs")
    try:
        in_parts = src.rdd.getNumPartitions()
    except Exception:
        in_parts = num_partitions
    if in_parts < num_partitions:
        # a small source (single-file parquet read, tiny batch) would
        # otherwise run tokenize + segment-build as in_parts serial
        # tasks; round-robin the doc rows first — 1 compact row per doc,
        # far cheaper than the serialism (at scale maxPartitionBytes
        # already yields >= num_partitions input splits, so this is a
        # no-op there)
        src = src.repartition(num_partitions)
    segments = src.mapInPandas(
        _segment_builder(block_size), schema=catalog.BLOCK_SCHEMA
    )
    merged = (
        segments.repartition(num_partitions, "term")
        .mapInPandas(
            _segment_merger(block_size, max(block_size // 2, 1)),
            schema=catalog.BLOCK_SCHEMA,
        )
    )
    return merged


def build_index(
    docs: DataFrame,
    cfg: HashSplitterConfig,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    num_partitions: int | None = None,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_slices: int = 1,
) -> dict:
    """Full index build; returns the persisted stats (see
    :func:`refresh_stats`) plus this run's ``block_size``, ``n_slices``
    and ``built_slices``.

    With ``n_slices > 1`` the corpus is split by ``pmod(xxhash64(doc_id))``
    and each slice is built + manifested independently: a rerun after a
    failure skips completed slices (checkpoint resume, north_rule).
    """
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = adaptive_num_partitions(docs)
    try:
        if docs.rdd.getNumPartitions() < num_partitions:
            # few-split sources (one small parquet file) would run the
            # tokenize UDF and the docstats scan near-serially
            docs = docs.repartition(num_partitions)
    except Exception:
        pass

    tokenized = tokenize_corpus(docs, cfg, id_col, text_col)
    dle = dl_expr(cfg, text_col)

    built_slices = 0
    for s in range(n_slices):
        if catalog.manifest_exists(index_dir, s):
            continue
        t0 = time.time()
        part = (
            tokenized
            if n_slices == 1
            else tokenized.where(
                F.pmod(F.xxhash64("doc_id"), F.lit(n_slices)) == s
            )
        )
        # docstats and postings are two sinks. Deliberately NOT persisted:
        # caching tens of millions of small deserialized strings causes GC
        # thrash that anti-scales with cores (measured 2-5x slower at
        # local[32]). Instead docstats is a pure-JVM scan (dl_expr) when
        # the config allows, else a second tokenize pass.
        blocks = build_postings_blocks_segmented(
            part, max(1, num_partitions // n_slices), block_size
        )
        if dle is not None:
            stats_src = docs.select(
                F.col(id_col).cast("long").alias("doc_id"),
                dle.alias("dl"),
                F.sha2(F.col(text_col).cast("string"), 256).alias(
                    "content_sha256"
                ),
            )
            if n_slices > 1:
                stats_src = stats_src.where(
                    F.pmod(F.xxhash64("doc_id"), F.lit(n_slices)) == s
                )
        else:
            stats_src = part.select("doc_id", "dl", "content_sha256")
        # the postings sink and the docstats sink are independent scans
        # of the source (the docstats pass is pure-JVM dl_expr when the
        # config allows) — overlap them (guide §2.6) instead of letting
        # the cheap docstats scan wait out the full tokenize+merge
        run_jobs_concurrently(
            lambda: blocks.write.mode("overwrite").parquet(
                catalog.postings_path(index_dir, s)
            ),
            lambda: stats_src.write.mode("overwrite").parquet(
                catalog.docstats_path(index_dir, s)
            ),
        )
        catalog.write_manifest(
            index_dir,
            s,
            {
                "slice": s,
                "n_slices": n_slices,
                "seconds": round(time.time() - t0, 3),
                "num_partitions": max(1, num_partitions // n_slices),
                "block_size": block_size,
            },
        )
        built_slices += 1

    stats = refresh_stats(spark, index_dir, cfg)
    return {
        **stats,
        "block_size": block_size,
        "n_slices": n_slices,
        "built_slices": built_slices,
    }


def docstats_summary(docstats: DataFrame) -> dict:
    """The scalar BM25 stats of a docstats frame — ``n_docs``, ``avgdl``
    and ``total_terms`` — from one aggregation job."""
    row = docstats.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("total"),
    ).collect()[0]
    return {
        "n_docs": int(row["n"]),
        "avgdl": float(row["avgdl"] or 0.0),
        "total_terms": int(row["total"] or 0),
    }


def refresh_stats(spark: SparkSession, index_dir: str,
                  cfg: HashSplitterConfig,
                  rebuild_lexicon: bool = True) -> dict:
    """Write the lexicon and ``stats.json`` from an index's postings and
    docstats — the one writer behind a build and every later refresh
    (the 'refresh' making appended or purged segments visible with
    correct idf/avgdl). Returns the stats it wrote.

    ``rebuild_lexicon=False`` skips the full-postings lexicon pass and
    only rewrites the scalar stats — for intermediate states whose
    caller runs a full refresh right after (``upsert_docs``: the purge
    and the append would otherwise each pay the pass)."""

    def write_lexicon() -> None:
        # column-pruned scan: the binary blobs are never read
        postings = catalog.read_postings(spark, index_dir)
        aggs = [F.sum("df").alias("df"), F.max("max_tf").alias("max_tf")]
        if "min_dl" in postings.columns:  # absent on pre-min_dl indexes
            aggs.append(F.min("min_dl").alias("min_dl"))
        # term-sorted lexicon FILES: the aggregation's own exchange
        # already hash-partitions on term, so an in-partition sort is
        # all it takes for per-query point reads (`term IN (...)`) to
        # prune parquet row groups via min/max, and AQE coalescing sets
        # the file count from the lexicon's actual size. An explicit
        # repartition to any other count costs a second exchange (one
        # more job per refresh). Hash instead of range partitioning
        # (r6): repartitionByRange's sampling pass re-executes the full
        # groupBy child, doubling the aggregation; the cost is
        # file-LEVEL pruning (a point read checks every file's footer).
        (
            postings.groupBy("term")
            .agg(*aggs)
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(catalog.lexicon_path(index_dir))
        )

    def summarize() -> dict:
        return docstats_summary(catalog.read_docstats(spark, index_dir))

    if rebuild_lexicon:
        # lexicon (postings scan) and scalar stats (docstats scan) are
        # independent jobs — overlap them (guide §2.6)
        _, stats = run_jobs_concurrently(write_lexicon, summarize)
    else:
        stats = summarize()
    stats["config"] = cfg.to_json()
    catalog.write_stats(index_dir, stats)
    return stats


def filter_blocks(blocks: DataFrame, keep) -> DataFrame:
    """Drop postings out of every block by a doc-id predicate, in one
    map-only decode -> mask -> re-encode pass (the tombstone purge and
    :meth:`~.search.SearchEngine.doc_subset`). ``keep(ids)`` maps a
    block's sorted int64 doc ids to a boolean mask. Blocks left empty
    are dropped, untouched blocks pass through as they are, and the
    rest get min/max_doc, df, max_tf and min_dl recomputed over the
    survivors so every prune bound stays tight. ``blocks`` holds the
    ``catalog.BLOCK_SCHEMA`` columns, without ``min_dl`` on indexes
    built before it."""
    cols = blocks.columns
    schema = T.StructType([catalog.BLOCK_SCHEMA[c] for c in cols])

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                d = decode_doc_ids(row.docs)
                mask = keep(d)
                if not mask.any():
                    continue
                if mask.all():
                    rows.append(row._asdict())
                    continue
                rows.append(
                    encode_block(
                        row.term, d[mask],
                        decode_counts(row.tfs)[mask],
                        decode_counts(row.dls)[mask],
                    )
                )
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return blocks.mapInPandas(rewrite, schema=schema)


def verify_content_sha256(
    docs: DataFrame,
    spark: SparkSession,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "content",
) -> int:
    """Post-build integrity check: recompute sha256(content) from the source
    and anti-join against the persisted docstats; returns the number of
    mismatching/missing rows (0 = invariant holds for 100% of rows)."""
    fresh = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.sha2(F.col(text_col).cast("string"), 256).alias("sha_now"),
    )
    stored = catalog.read_docstats(spark, index_dir).select(
        "doc_id", "content_sha256"
    )
    return (
        fresh.join(stored, "doc_id", "left")
        .where(
            F.col("content_sha256").isNull()
            | (F.col("content_sha256") != F.col("sha_now"))
        )
        .count()
    )
