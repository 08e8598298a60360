"""Upsert scale probe at 1M files (NOTES_r5 §25).

``upsert_docs`` (streaming/incremental.py) is pytest-pinned at 24 docs
and gate-checked at sf0.01; this probe gives it the same 1M-row
evidence as the delete/serving surfaces. Measured:

1. pure-insert upsert (no id collisions): must pay only its own
   segment write — O(batch), no merge (the cheap path's scale claim);
2. replacement upsert (1% of the corpus): pays one purge merge over
   the index + the segment append — the ES update cost model,
   recorded next to the deletes probe's plain-compaction time so the
   merge fraction is attributable;
3. warm query battery before/after (the upserted index must not be
   slower to serve);
4. the §25 identity AT SCALE: the upserted index's battery answers vs
   a FRESH build over the updated corpus — rank-identical up to
   exact-score tie groups, scores to 1e-9 (two physically different
   indexes can permute an exactly-tied group by 1 ULP of float-sum
   order; same contract as tests/test_upsert.py).

Run on an idle box (assumes all cores):
  python tools/upsert_scale_probe.py --rows 1000000
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

from serve_scale_probe import best_of, make_spark  # noqa: E402

# single source of truth for the tie-group rank contract and the
# inode-identity check — the same helpers the pytest pins use
from tests.test_upsert import _inodes as dir_inodes  # noqa: E402
from tests.test_upsert import _tie_groups as tie_groups  # noqa: E402

REPL_MOD, REPL_RES = 100, 7  # 1% of the corpus replaced


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument(
        "--cores", type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    ap.add_argument("--inserts", type=int, default=10_000)
    ap.add_argument("--queries", type=int, default=16)
    ap.add_argument("--reps", type=int, default=3)
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
        bm25_topk_batch,
        bm25_topk_batch_collect,
    )
    from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc
    from elasticsearch_analysis_hashsplitter_spark.sources import catalog
    from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
        upsert_docs,
    )

    from pyspark.sql import functions as F  # noqa: E402

    from __spark_entry__ import TOK_CFG

    base = tempfile.mkdtemp(prefix="hs_upsert_probe_")
    idx = os.path.join(base, "idx")
    fresh_dir = os.path.join(base, "fresh")
    out: dict = {"rows": args.rows, "cores": args.cores,
                 "inserts": args.inserts,
                 "replaced_mod": REPL_MOD}
    spark = make_spark(args.cores)
    try:
        docs = generate_corpus(spark, args.rows, partitions=args.cores * 2)
        t0 = time.time()
        build_index(docs, TOK_CFG, idx, n_slices=4)
        out["build_seconds"] = round(time.time() - t0, 1)

        def opened(path):
            e = SearchEngine.open(spark, path)
            e.lexicon = e.lexicon.persist()
            e.lexicon.count()
            return e

        tokens = [
            str(_VOCAB[(11 * i + 3) % len(_VOCAB)])
            for i in range(args.queries)
        ]
        qmap = {
            f"q{i}": list(qc.field_query(t, TOK_CFG).terms)
            for i, t in enumerate(tokens)
        }

        def battery(e):
            return best_of(
                args.reps,
                lambda: bm25_topk_batch(e, qmap, k=10).count(),
            )

        eng = opened(idx)
        eng.search(tokens[0], 10).collect()  # warm python workers
        out["battery_before_seconds"] = round(battery(eng), 2)

        # 1. pure inserts: brand-new ids — segment write only, no merge
        inserts = generate_corpus(
            spark, args.inserts, partitions=args.cores,
            start=args.rows,
        )
        slices_before = set(catalog.list_postings_slices(idx))
        t0 = time.time()
        res = upsert_docs(spark, idx, inserts, TOK_CFG,
                          num_partitions=args.cores)
        out["insert_upsert_seconds"] = round(time.time() - t0, 1)
        out["insert_replaced"] = res["replaced"]  # must be 0
        out["insert_added_one_segment"] = (
            len(set(catalog.list_postings_slices(idx)) - slices_before)
            == 1
        )

        # 2a. TARGETED replacements: same batch size, but every victim
        # sits in ONE build slice — the purge must decode only that
        # slice and leave the rest untouched (inode-verified), the workload
        # shape of "re-ingest yesterday's crawl"
        def slice_inodes(k):
            return dir_inodes(os.path.join(idx, "postings", f"slice={k}"))

        slice_keys = [
            k for k in catalog.list_postings_slices(idx)
            if not k.startswith("upsert")
        ]
        targeted_ids = [
            r["doc_id"]
            for r in spark.read.parquet(
                os.path.join(idx, "docstats", f"slice={slice_keys[0]}")
            ).select("doc_id").limit(args.inserts).collect()
        ]
        tgt_df = spark.createDataFrame(
            [(i,) for i in targeted_ids], "doc_id long"
        )
        seed43 = generate_corpus(
            spark, args.rows, seed=43, partitions=args.cores * 2
        )
        targeted = seed43.join(F.broadcast(tgt_df), "doc_id", "left_semi")
        inodes_before = {k: slice_inodes(k) for k in slice_keys}
        t0 = time.time()
        res = upsert_docs(spark, idx, targeted, TOK_CFG,
                          num_partitions=args.cores)
        out["targeted_upsert_seconds"] = round(time.time() - t0, 1)
        out["targeted_replaced"] = res["replaced"]
        out["slices_hardlinked"] = sum(
            1 for k in slice_keys[1:]
            if slice_inodes(k) == inodes_before[k]
        )
        out["slices_untouched_expected"] = len(slice_keys) - 1

        # 2b. UNIFORM replacements: 1% of the corpus — hash slicing
        # spreads victims over every slice, so the purge rewrites all
        # of them (still shuffle-free and slice-preserving); this is
        # the worst case for slice pruning
        updates = seed43.where(F.col("doc_id") % REPL_MOD == REPL_RES)
        t0 = time.time()
        res = upsert_docs(spark, idx, updates, TOK_CFG,
                          num_partitions=args.cores)
        out["replace_upsert_seconds"] = round(time.time() - t0, 1)
        out["replace_replaced"] = res["replaced"]
        out["n_docs_after"] = res["stats"]["n_docs"]

        eng = opened(idx)
        eng.search(tokens[0], 10).collect()
        out["battery_after_seconds"] = round(battery(eng), 2)

        # 3. the §25 identity at scale: fresh build over the updated
        # corpus must answer the battery identically (tie-aware).
        # Latest-wins resolution is trivial here: both replacement
        # batches draw content from the same seed-43 corpus keyed by id.
        all_victims = (
            tgt_df.unionByName(
                updates.select("doc_id")
            ).distinct()
        )
        updated = (
            docs.join(F.broadcast(all_victims), "doc_id", "left_anti")
            .unionByName(
                seed43.join(F.broadcast(all_victims), "doc_id",
                            "left_semi")
            )
            .unionByName(inserts)
        )
        t0 = time.time()
        build_index(updated, TOK_CFG, fresh_dir, n_slices=4)
        out["fresh_build_seconds"] = round(time.time() - t0, 1)
        fresh = opened(fresh_dir)
        fresh.search(tokens[0], 10).collect()

        got = bm25_topk_batch_collect(eng, qmap, k=10)
        want = bm25_topk_batch_collect(fresh, qmap, k=10)
        ok = True
        for q in qmap:
            g, w = got.get(q, []), want.get(q, [])
            ok = ok and tie_groups(g) == tie_groups(w)
            by_doc = dict(w)
            ok = ok and all(
                abs(gs - by_doc[gd]) <= 1e-9 * max(1.0, abs(by_doc[gd]))
                for gd, gs in g
            )
        out["parity_vs_fresh_build"] = ok
        out["stats_match"] = (
            eng.stats["n_docs"] == fresh.stats["n_docs"]
            and abs(eng.stats["avgdl"] - fresh.stats["avgdl"]) < 1e-9
        )

        # interleaved A/B in one window: the upserted index (compacted
        # + 2 upsert segments) vs the fresh 4-slice build — attributes
        # any battery_after slowdown to the compacted read shape
        # (BENCH.md "Compacted-layout A/B") vs host swing
        bm25_topk_batch(fresh, qmap, k=10).count()  # warm/compile
        ab = {"upserted": [], "fresh": []}
        for _ in range(args.reps):
            t0 = time.time()
            bm25_topk_batch(eng, qmap, k=10).count()
            ab["upserted"].append(time.time() - t0)
            t0 = time.time()
            bm25_topk_batch(fresh, qmap, k=10).count()
            ab["fresh"].append(time.time() - t0)
        out["ab_battery_upserted_seconds"] = round(min(ab["upserted"]), 2)
        out["ab_battery_fresh_seconds"] = round(min(ab["fresh"]), 2)
        out["slices_after"] = sorted(catalog.list_postings_slices(idx))
    finally:
        spark.stop()
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
