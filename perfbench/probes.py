"""Per-layer probes of the traced run, made once after set-up: each
times one public function of a layer on the workload's own data or on
the index it just built."""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow.dataset as ds

from harness import median
from elasticsearch_analysis_hashsplitter_spark.functions.codec import (
    decode_doc_ids,
)
from elasticsearch_analysis_hashsplitter_spark.functions.tokenize import (
    term_counts_frame,
)
from elasticsearch_analysis_hashsplitter_spark.operators.build import (
    adaptive_num_partitions,
    build_postings_blocks_segmented,
    tokenize_corpus,
)
from elasticsearch_analysis_hashsplitter_spark.sources import catalog

#: blocks holding at most this many postings count as small
SMALL_DF = 64
TOKENIZE_SAMPLE = 1000


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_probes(spark, wl, frame, index_dir: str, text: dict) -> dict:
    out = {}
    # operators.build: the tokenize stage and the segmented block build
    # (which includes tokenizing), each run to a sink that writes nothing
    parts = adaptive_num_partitions(frame)
    out["build.tokenize_s"] = _timed(
        lambda: _noop(tokenize_corpus(frame, wl.cfg, text_col="text"))
    )
    out["build.segment_s"] = _timed(
        lambda: _noop(
            build_postings_blocks_segmented(
                tokenize_corpus(frame, wl.cfg, text_col="text"), parts
            )
        )
    )

    # functions.tokenize on a fixed sample of the corpus
    sample = pd.Series([text[d] for d in sorted(text)[:TOKENIZE_SAMPLE]])
    t = median(_timed(lambda: term_counts_frame(sample, wl.cfg))
               for _ in range(3))
    out["tokenize.values_per_s"] = len(sample) / t

    # sources.catalog: what the build left on disk
    files = [
        os.path.join(r, f) for r, _d, fs in os.walk(index_dir) for f in fs
    ]
    out["catalog.files"] = len(files)
    out["catalog.bytes"] = sum(os.path.getsize(f) for f in files)
    blocks = ds.dataset(
        catalog.postings_path(index_dir), format="parquet",
        partitioning="hive",
    ).to_table(columns=["term", "df", "docs"])
    dfs = blocks.column("df").to_pylist()
    blobs = blocks.column("docs").to_pylist()
    small = [b for b, n in zip(blobs, dfs) if n <= SMALL_DF]
    full = [b for b, n in zip(blobs, dfs) if n > SMALL_DF]
    out["catalog.blocks"] = len(dfs)
    out["catalog.small_block_share"] = len(small) / max(len(dfs), 1)
    out["catalog.distinct_terms"] = len(set(blocks.column("term").to_pylist()))

    # functions.codec: decode every blob of each block class
    def decode_all(bs):
        for b in bs:
            decode_doc_ids(b)

    out["codec.small_block_decode_s"] = _timed(lambda: decode_all(small))
    out["codec.full_block_decode_s"] = _timed(lambda: decode_all(full))
    return out
