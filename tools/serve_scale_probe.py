"""Serving-path scale probe: the coalesced/sharded serving tier at 1M+ files.

The search path has 1M/4M evidence for BUILD and for the batch kernel's
prune tiers; this probe gives the same evidence for the r5 SERVING
surfaces — the doc-sharded layout, the compiled-plan-cached batch
collect, the coalescing dispatcher, and incremental refresh — at 10x
the bench's 100k default. What it measures:

1. layout build cost at scale (enable_serving_layout: one decode +
   re-encode pass + one shuffle, then persisted);
2. steady-state throughput of the three serving modes on the SAME warm
   engine: unsharded batch (single-Exchange plan), sharded batch
   collect (shuffle-free stage + bounded driver merge), coalesced
   serve() with N client threads;
3. answer parity: serve()'s coalesced answers vs search()'s per-query
   plan (docs exact, scores to 1e-9) — at probe scale, not just the
   100k pytest corpus;
4. refresh(): append a segment via stream_index, then time the
   incremental layout carry-forward vs a full relayout of the same
   index — the O(new segment) vs O(index) claim, measured.

Run AFTER the box is idle (the bench and this probe both assume the 32
cores): python tools/serve_scale_probe.py --rows 1000000
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


def make_spark(cores: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("hs-serve-scale-probe")
        .config("spark.sql.shuffle.partitions", str(max(cores * 4, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.scheduler.mode", "FAIR")
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
    ap.add_argument("--append-rows", type=int, default=100_000)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument(
        "--shards", type=int, default=0,
        help="0 = engine default (4x cores; bounds per-task memory)",
    )
    ap.add_argument("--queries", type=int, default=64)
    ap.add_argument("--clients", type=int, default=8)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--index-dir", default=None)
    args = ap.parse_args()

    from elasticsearch_analysis_hashsplitter_spark.corpus import _VOCAB, generate_corpus
    from elasticsearch_analysis_hashsplitter_spark.operators.build import build_index
    from elasticsearch_analysis_hashsplitter_spark.operators.search import (
        SearchEngine,
        bm25_topk_batch,
        bm25_topk_batch_collect,
    )
    from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
    from elasticsearch_analysis_hashsplitter_spark.operators.build import (
        refresh_stats,
    )
    from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
        stream_index,
    )

    from __spark_entry__ import TOK_CFG

    base = args.index_dir or tempfile.mkdtemp(prefix="hs_serve_probe_")
    idx = os.path.join(base, "idx")
    out: dict = {
        "rows": args.rows,
        "cores": args.cores,
        "shards": args.shards or "auto(4x cores)",
        "queries": args.queries,
        "clients": args.clients,
    }
    spark = make_spark(args.cores)
    try:
        # ---- build --------------------------------------------------
        reuse = args.index_dir and os.path.exists(
            os.path.join(idx, "stats.json")
        )
        if not reuse:
            shutil.rmtree(idx, ignore_errors=True)
            docs = generate_corpus(
                spark, args.rows, partitions=args.cores * 2
            )
            t0 = time.time()
            build_index(docs, TOK_CFG, idx, n_slices=4)
            build_dt = time.time() - t0
            out["build_seconds"] = round(build_dt, 1)
            out["build_files_per_sec"] = round(args.rows / build_dt, 1)

        t0 = time.time()
        eng = SearchEngine.open(spark, idx)
        out["open_seconds"] = round(time.time() - t0, 2)
        eng.lexicon = eng.lexicon.persist()
        eng.lexicon.count()

        tokens = [
            str(_VOCAB[(11 * i + 3) % len(_VOCAB)])
            for i in range(args.queries)
        ]
        qmap = {
            f"q{i}": list(qc.field_query(t, TOK_CFG).terms)
            for i, t in enumerate(tokens)
        }
        eng.search(tokens[0], 10).collect()  # python workers warm

        # ---- unsharded batch (single-Exchange plan) -----------------
        bm25_topk_batch(eng, qmap, k=10).count()  # warm/compile
        dt = best_of(
            args.reps, lambda: bm25_topk_batch(eng, qmap, k=10).count()
        )
        out["batch_unsharded_seconds"] = round(dt, 2)
        out["batch_unsharded_qps"] = round(args.queries / dt, 2)

        # ---- serving layout -----------------------------------------
        t0 = time.time()
        eng.enable_serving_layout(args.shards or None)
        out["layout_build_seconds"] = round(time.time() - t0, 1)
        out["layout_sharded_blocks"] = eng.sharded.count()

        bm25_topk_batch_collect(eng, qmap, k=10)  # warm/compile
        dt = best_of(
            args.reps, lambda: bm25_topk_batch_collect(eng, qmap, k=10)
        )
        out["batch_sharded_seconds"] = round(dt, 2)
        out["batch_sharded_qps"] = round(args.queries / dt, 2)

        # ---- coalesced concurrent serve -----------------------------
        reqs = {f"c{i}": tokens[i % len(tokens)] for i in range(args.queries)}
        eng.serve(reqs, k=10, max_workers=args.clients)  # warm
        dt = best_of(
            args.reps,
            lambda: eng.serve(reqs, k=10, max_workers=args.clients),
        )
        out["serve_coalesced_seconds"] = round(dt, 2)
        out["serve_coalesced_qps"] = round(args.queries / dt, 2)

        # ---- answer parity at scale ---------------------------------
        served = eng.serve(reqs, k=10, max_workers=args.clients)
        parity = True
        for cid in ("c0", "c1", "c7", "c13"):
            ref = [
                (r["doc_id"], round(r["score"], 6))
                for r in eng.search(reqs[cid], 10).collect()
            ]
            got = [(d, round(s, 6)) for d, s in served[cid]]
            parity = parity and got == ref
        out["serve_matches_search"] = parity

        # ---- refresh: incremental layout carry-forward --------------
        src = os.path.join(base, "append_src")
        ckpt = os.path.join(base, "append_ckpt")
        generate_corpus(
            spark, args.append_rows, partitions=args.cores,
            start=args.rows,
        ).write.mode("overwrite").parquet(os.path.join(src, "b0"))
        q = stream_index(
            spark,
            os.path.join(src, "*"),
            (
                "doc_id long, repo string, path string, commit string, "
                "lang string, content string"
            ),
            TOK_CFG,
            idx,
            ckpt,
            num_partitions=args.cores,
        )
        q.awaitTermination()
        refresh_stats(spark, idx, TOK_CFG)

        piece0 = eng._layout_pieces[0]
        t0 = time.time()
        eng2 = eng.refresh()
        out["refresh_incremental_seconds"] = round(time.time() - t0, 1)
        out["refresh_pieces"] = len(eng2._layout_pieces)
        out["refresh_reused_piece"] = eng2._layout_pieces[0] is piece0
        out["append_rows"] = args.append_rows

        # refreshed engine still serves, with the appended docs visible
        n_docs = eng2.stats["n_docs"]
        out["refreshed_n_docs"] = n_docs
        bm25_topk_batch_collect(eng2, qmap, k=10)  # warm new union plan
        dt = best_of(
            args.reps, lambda: bm25_topk_batch_collect(eng2, qmap, k=10)
        )
        out["refreshed_batch_sharded_seconds"] = round(dt, 2)
        out["refreshed_batch_sharded_qps"] = round(args.queries / dt, 2)

        # full relayout of the SAME refreshed index, for the
        # O(new segment) vs O(index) comparison
        eng2.disable_serving_layout()
        t0 = time.time()
        eng2.enable_serving_layout(args.shards or None)
        out["full_relayout_seconds"] = round(time.time() - t0, 1)
        eng2.disable_serving_layout()
    finally:
        spark.stop()
        if not args.keep and not args.index_dir:
            shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
