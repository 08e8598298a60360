"""Deletes scale probe: tombstone masking + purge at 1M files.

The delete surface (operators/search.py delete_docs, NOTES_r5 §21) is
pytest-pinned at 24 docs and gate-checked at sf0.01; this probe gives it
the same 1M-row evidence the other serving surfaces have. Measured:

1. warm batch battery with ZERO deletes (baseline — the delete-free
   plan is claimed byte-identical to pre-feature);
2. delete_docs driver cost (tombstone write + sorted-set union) and the
   battery with 1% and 10% of the corpus tombstoned — the runtime cost
   of the broadcast-anti-join mask at its two sizes;
3. answer parity at scale: post-delete top-10 per query must equal the
   pre-delete top-k with tombstoned docs dropped, scores BIT-equal
   (stale-stats semantics);
4. sharded serving with deletes (the in-kernel mask before the local
   top-k);
5. compact_index purge cost vs the decode-free compaction of the same
   index without tombstones (what the expunge decode pass adds), plus
   the post-purge battery and stats drop.

Run on an idle box (assumes all cores):
  python tools/deletes_scale_probe.py --rows 1000000
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument(
        "--cores", type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    ap.add_argument("--queries", type=int, default=16)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--index-dir", default=None)
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
    from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
        compact_index,
    )

    from __spark_entry__ import TOK_CFG

    base = args.index_dir or tempfile.mkdtemp(prefix="hs_del_probe_")
    idx = os.path.join(base, "idx")
    out: dict = {"rows": args.rows, "cores": args.cores,
                 "queries": args.queries}
    spark = make_spark(args.cores)
    try:
        reuse = args.index_dir and os.path.exists(
            os.path.join(idx, "stats.json")
        )
        if not reuse:
            shutil.rmtree(idx, ignore_errors=True)
            docs = generate_corpus(spark, args.rows,
                                   partitions=args.cores * 2)
            t0 = time.time()
            build_index(docs, TOK_CFG, idx, n_slices=4)
            out["build_seconds"] = round(time.time() - t0, 1)

        def fresh_engine():
            e = SearchEngine.open(spark, idx)
            e.lexicon = e.lexicon.persist()
            e.lexicon.count()
            return e

        eng = fresh_engine()
        tokens = [
            str(_VOCAB[(11 * i + 3) % len(_VOCAB)])
            for i in range(args.queries)
        ]
        qmap = {
            f"q{i}": list(qc.field_query(t, TOK_CFG).terms)
            for i, t in enumerate(tokens)
        }
        eng.search(tokens[0], 10).collect()  # warm python workers

        def battery(e):
            return best_of(
                args.reps,
                lambda: bm25_topk_batch(e, qmap, k=10).count(),
            )

        # deep reference answers for the parity check: per-query top-k
        # wide enough to survive dropping any tombstoned prefix
        ref = bm25_topk_batch_collect(eng, qmap, k=60)

        dt = battery(eng)
        out["battery_no_deletes_seconds"] = round(dt, 2)

        for frac, mod in (("1pct", 100), ("10pct", 10)):
            victims = list(range(7, args.rows, mod))
            t0 = time.time()
            eng.delete_docs(victims)
            out[f"delete_{frac}_driver_seconds"] = round(
                time.time() - t0, 2
            )
            out[f"deleted_total_{frac}"] = eng.deleted_count
            dt = battery(eng)
            out[f"battery_{frac}_seconds"] = round(dt, 2)
            got = bm25_topk_batch_collect(eng, qmap, k=10)
            dele = set(victims)
            ok = True
            for q, exp_full in ref.items():
                exp = [(d, s) for d, s in exp_full if d not in dele][:10]
                g = got.get(q, [])
                ok = ok and [d for d, _ in g] == [d for d, _ in exp] and all(
                    gs == es for (_, gs), (_, es) in zip(g, exp)
                )
            out[f"parity_{frac}_bit_equal"] = ok

        # sharded serving with 10% tombstoned (in-kernel mask)
        t0 = time.time()
        eng.enable_serving_layout()
        out["layout_build_seconds"] = round(time.time() - t0, 1)
        bm25_topk_batch_collect(eng, qmap, k=10)  # warm/compile
        dt = best_of(
            args.reps, lambda: bm25_topk_batch_collect(eng, qmap, k=10)
        )
        out["sharded_battery_10pct_seconds"] = round(dt, 2)
        got = bm25_topk_batch_collect(eng, qmap, k=10)
        dele = set(range(7, args.rows, 10)) | set(range(7, args.rows, 100))
        out["sharded_parity_bit_equal"] = all(
            [d for d, _ in got.get(q, [])]
            == [d for d, _ in [(d, s) for d, s in ref[q]
                               if d not in dele][:10]]
            for q in ref
        )
        eng.disable_serving_layout()

        # purge compaction (decode+re-encode) vs decode-free compaction
        # of the same postings without tombstones
        out_purged = os.path.join(base, "purged")
        shutil.rmtree(out_purged, ignore_errors=True)
        t0 = time.time()
        stats = compact_index(spark, idx, out_purged, TOK_CFG,
                              num_partitions=args.cores * 4)
        out["compact_purge_seconds"] = round(time.time() - t0, 1)
        out["n_docs_after_purge"] = stats["n_docs"]

        shutil.rmtree(
            os.path.join(idx, "deletes"), ignore_errors=True
        )  # tombstones off: same index, decode-free path
        out_plain = os.path.join(base, "plain")
        shutil.rmtree(out_plain, ignore_errors=True)
        t0 = time.time()
        compact_index(spark, idx, out_plain, TOK_CFG,
                      num_partitions=args.cores * 4)
        out["compact_plain_seconds"] = round(time.time() - t0, 1)

        purged = SearchEngine.open(spark, out_purged)
        purged.lexicon = purged.lexicon.persist()
        purged.lexicon.count()
        purged.search(tokens[0], 10).collect()
        bm25_topk_batch(purged, qmap, k=10).count()
        out["battery_post_purge_seconds"] = round(battery(purged), 2)
        out["deleted_after_purge"] = purged.deleted_count
    finally:
        spark.stop()
        if not args.keep and args.index_dir is None:
            shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
