"""Streaming-ingest scale probe: the incremental index tier at ~1M docs.

Every other tier now has >= 1M evidence (build 4M, batch-query prune 4M,
serving/Iceberg/dedup/ANN 1M); streaming had only the sf0.01 gate. This
probe measures the Structured-Streaming growth path itself at scale:

1. ingest throughput per wave: N waves of synthetic source-code files
   land as parquet and are drained by ``stream_index`` (availableNow,
   one segment per micro-batch) — docs/s per wave and whether the rate
   degrades as the index grows (it should NOT: a segment write is
   O(batch), never O(index), because segments are independent slices);
2. read amplification vs segment count: warm BM25 top-k latency on the
   multi-segment index, then after ``maybe_compact`` rewrites it to one
   slice — the Lucene-style merge-policy payoff, measured at 1M;
3. the strongest correctness check available at scale: the compacted
   streamed index must answer a query battery RANK-IDENTICAL (docs
   exact, scores to 1e-9) to a one-shot ``build_index`` over the
   byte-identical corpus — ingest order and segmentation must not leak
   into scores (df/avgdl/dl are corpus properties, not ingest
   properties).

Run on an idle box (the bench and this probe both assume the cores):
    python tools/streaming_scale_probe.py --rows 1000000 --waves 10
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SCHEMA = (
    "doc_id long, repo string, path string, commit string, "
    "lang string, content string"
)


def make_spark(cores: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("hs-streaming-scale-probe")
        .config("spark.sql.shuffle.partitions", str(max(cores * 4, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .getOrCreate()
    )


def best_of(n, fn):
    times = []
    for _ in range(n):
        t0 = time.time()
        fn()
        times.append(time.time() - t0)
    return min(times)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--waves", type=int, default=10)
    ap.add_argument(
        "--cores",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--parity-queries", type=int, default=8)
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    from elasticsearch_analysis_hashsplitter_spark.corpus import (
        _VOCAB,
        generate_corpus,
    )
    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        build_index,
    )
    from elasticsearch_analysis_hashsplitter_spark.operators.search import (
        SearchEngine,
    )
    from elasticsearch_analysis_hashsplitter_spark.sources import catalog
    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        refresh_stats,
    )
    from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
        maybe_compact,
        stream_index,
    )

    from __spark_entry__ import TOK_CFG

    base = tempfile.mkdtemp(prefix="hs_stream_probe_")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    idx = os.path.join(base, "idx")
    batch_idx = os.path.join(base, "batch_idx")
    wave_rows = args.rows // args.waves
    out: dict = {
        "rows": wave_rows * args.waves,
        "waves": args.waves,
        "wave_rows": wave_rows,
        "cores": args.cores,
    }
    spark = make_spark(args.cores)
    try:
        # ---- 1. wave-by-wave ingest ---------------------------------
        # Each wave: land parquet (untimed — that's the upstream
        # producer), then drain with availableNow (timed — tokenize +
        # segment write + commit). One stream_index call per wave so
        # the timed region is exactly the ingest work for that wave.
        waves = []
        for w in range(args.waves):
            generate_corpus(
                spark, wave_rows, partitions=args.cores * 2,
                start=w * wave_rows,
            ).write.mode("overwrite").parquet(os.path.join(src, f"b{w}"))
            t0 = time.time()
            q = stream_index(
                spark, os.path.join(src, "*"), SCHEMA, TOK_CFG, idx, ckpt,
                num_partitions=args.cores,
            )
            q.awaitTermination()
            dt = time.time() - t0
            waves.append(
                {"wave": w, "seconds": round(dt, 1),
                 "docs_per_sec": round(wave_rows / dt, 1)}
            )
        out["waves_detail"] = waves
        rates = [w["docs_per_sec"] for w in waves]
        out["docs_per_sec_first"] = rates[0]
        out["docs_per_sec_last"] = rates[-1]
        out["docs_per_sec_median"] = sorted(rates)[len(rates) // 2]
        # O(batch) claim: the last wave lands on a 9x-bigger index than
        # the first; its rate must not have fallen off a cliff.
        out["last_over_first_rate"] = round(rates[-1] / rates[0], 3)

        t0 = time.time()
        refresh_stats(spark, idx, TOK_CFG)
        out["refresh_stats_seconds"] = round(time.time() - t0, 1)
        out["segments"] = len(catalog.list_postings_slices(idx))

        # ---- 2. query latency vs segment count ----------------------
        tokens = [
            str(_VOCAB[(11 * i + 3) % len(_VOCAB)])
            for i in range(args.parity_queries)
        ]
        eng = SearchEngine.open(spark, idx)
        out["n_docs"] = eng.stats["n_docs"]
        eng.search(tokens[0], 10).collect()  # warm
        out["query_sec_segmented"] = round(
            best_of(args.reps, lambda: eng.search(tokens[1], 10).collect()),
            2,
        )

        t0 = time.time()
        assert maybe_compact(
            spark, idx, TOK_CFG, max_slices=4, num_partitions=args.cores
        ) is not None
        out["compact_seconds"] = round(time.time() - t0, 1)
        eng = SearchEngine.open(spark, idx)
        eng.search(tokens[0], 10).collect()  # warm
        out["query_sec_compacted"] = round(
            best_of(args.reps, lambda: eng.search(tokens[1], 10).collect()),
            2,
        )

        # ---- 3. streamed == batch-built, rank-identical --------------
        t0 = time.time()
        build_index(
            generate_corpus(
                spark, wave_rows * args.waves, partitions=args.cores * 2
            ),
            TOK_CFG,
            batch_idx,
            n_slices=4,
        )
        out["batch_build_seconds"] = round(time.time() - t0, 1)
        beng = SearchEngine.open(spark, batch_idx)
        assert beng.stats["n_docs"] == eng.stats["n_docs"]
        parity = True
        for t in tokens:
            a = [(r.doc_id, r.score) for r in eng.search(t, 10).collect()]
            b = [(r.doc_id, r.score) for r in beng.search(t, 10).collect()]
            ok = len(a) == len(b) and all(
                da == db and abs(sa - sb) <= 1e-9 * max(1.0, abs(sb))
                for (da, sa), (db, sb) in zip(a, b)
            )
            if not ok:
                parity = False
                out.setdefault("parity_mismatches", []).append(t)
        out["streamed_matches_batch_build"] = parity
        print(json.dumps(out))
    finally:
        spark.stop()
        if not args.keep:
            shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
