"""Benchmark for hashsplitter-spark.

    python3 perfbench/run.py --workload {hash_lookup,ingest_search} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Each run starts Spark (``local[nproc]``,
fixed settings), builds a fresh index of the workload's generated corpus,
warms up on ops drawn from a separate seed stream, then runs the
workload's closed loop: one full round of reads and an upsert, then
reads until ``--seconds`` have passed. Every answer is checked against a
pure-Python reference afterwards, outside every timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it holds
per-run diagnostics (failure ratio, drift, host speed) that are not
metrics. All scratch files live under ``.perfbench_work/`` in the
checkout and are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "elasticsearch_analysis_hashsplitter_spark"
#: passes over the workload's warm-up kinds before the timed loop
WARMUP_PASSES = 2


def _layer_counts(rows: list[dict], key: str) -> float:
    vals = [r[key] for r in rows if r.get(key) is not None]
    return sum(vals) / len(vals) if vals else 0.0


class Runner:
    """One workload run: the set-up, the timed closed loop, the answer
    check and the metrics. ``spark`` and ``spark_s`` come from the
    caller so tests can run several workloads in one session."""

    def __init__(self, spark, wl, seconds: float, traced: bool, work: str,
                 spark_s: float):
        from harness import JobCounter, Tracer
        from workloads import K

        self.k = K
        self.spark, self.wl, self.seconds = spark, wl, seconds
        self.traced, self.work, self.spark_s = traced, work, spark_s
        self.counter = JobCounter(spark.sparkContext)
        self.tracer = Tracer(traced)
        self.off = Tracer(False)
        #: tracer of the op in flight (read by the serving lane threads)
        self.cur_tracer = self.off
        self.cur_req = self.cur_request = None
        self.batch_log: list[tuple[int, float]] = []
        self.eng = None
        self.coal = None
        self.cold = False

    # --- engine handles ----------------------------------------------
    def _open(self, index_dir: str, tr) -> None:
        from elasticsearch_analysis_hashsplitter_spark.operators.search import (
            SearchEngine,
            ServeCoalescer,
            bm25_topk_batch_collect,
        )

        if self.coal is not None:
            self.coal.close()
        with tr.span("open"):
            t = time.perf_counter()
            eng = SearchEngine.open(self.spark, index_dir)
            self.open_s.append(time.perf_counter() - t)

        def timed_collect(qmap, k):
            with self.cur_tracer.span(
                "serve.batch", req=self.cur_req, parent=self.cur_request,
                size=len(qmap),
            ):
                t0 = time.perf_counter()
                out = bm25_topk_batch_collect(eng, qmap, k=k)
                self.batch_log.append((len(qmap), time.perf_counter() - t0))
            return out

        self.eng = eng
        self.cold = True
        self.coal = ServeCoalescer(
            eng, k=self.k, result_cache=False,
            batch_collect_fn=timed_collect,
        )

    # --- ops -----------------------------------------------------------
    def read(self, op, req, traced_op: bool) -> dict:
        from elasticsearch_analysis_hashsplitter_spark.plans import ir

        tr = self.tracer if traced_op else self.off
        # the first read after a reopen runs with cold engine caches
        cold, self.cold = self.cold, False
        rec = {"op": op, "req": req, "traced": traced_op, "cold": cold}
        snap = self.counter.snapshot() if traced_op else None
        self.cur_tracer, self.cur_req = tr, req
        self.batch_log = []
        t0 = time.perf_counter()
        with tr.span("op", req=req, kind=op.kind, cold=cold):
            if traced_op:
                with tr.span("compile"):
                    tc = time.perf_counter()
                    node = self.wl.compile(op)
                    rec["compile_s"] = time.perf_counter() - tc
                rec["terms"] = (
                    len(node.terms)
                    if isinstance(node, ir.ScoredTerms)
                    else len(ir.leaves(node))
                )
            if op.kind == "serve":
                with tr.span("serve.request", req=req) as span:
                    self.cur_request = span and span["id"]
                    rows = self.coal.request(op.arg[0])
            else:
                with tr.span("plan"):
                    tp = time.perf_counter()
                    df = self.wl.plan(self.eng, op)
                    rec["plan_s"] = time.perf_counter() - tp
                with tr.span("exec"):
                    te = time.perf_counter()
                    rows = df.collect()
                    rec["exec_s"] = time.perf_counter() - te
        rec["lat"] = time.perf_counter() - t0
        rec["answer"] = self.wl.normalize(op, rows)
        if op.kind == "serve":
            rec["batches"] = list(self.batch_log)
        if traced_op:
            rec["jobs"], rec["tasks"], rec["failed_tasks"] = (
                self.counter.since(snap)
            )
        return rec

    def upsert(self, batch: dict, frame, index_dir: str, req) -> dict:
        from harness import bytes_written, file_ids
        from elasticsearch_analysis_hashsplitter_spark.sources import catalog
        from elasticsearch_analysis_hashsplitter_spark.streaming.incremental import (
            upsert_docs,
        )

        tr = self.tracer
        before = file_ids(index_dir)
        snap = self.counter.snapshot() if self.traced else None
        with tr.span("upsert", req=req):
            t0 = time.perf_counter()
            with tr.span("mutation"):
                res = upsert_docs(
                    self.spark, index_dir, frame, self.wl.cfg,
                    text_col="text",
                )
            t_mut = time.perf_counter() - t0
            self._open(index_dir, tr)
            lat = time.perf_counter() - t0
        rec = {
            "lat": lat,
            "mutation_s": t_mut,
            "replaced": res["replaced"],
            "written": bytes_written(before, file_ids(index_dir)),
            "text_bytes": sum(len(v.encode()) for v in batch.values()),
            "segments": len(catalog.list_postings_slices(index_dir)),
        }
        if self.traced:
            rec["jobs"], rec["tasks"], rec["failed_tasks"] = (
                self.counter.since(snap)
            )
        return rec

    # --- the run -------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        from harness import (
            host_speed_loop,
            median,
            tail_quantile,
            tree_bytes,
        )
        from workloads import Reference
        from elasticsearch_analysis_hashsplitter_spark.operators.build import (
            build_index,
        )
        from elasticsearch_analysis_hashsplitter_spark.sources import catalog

        wl, tr = self.wl, self.tracer
        self.open_s: list[float] = []
        snap = self.counter.snapshot() if self.traced else None
        index_dir = os.path.join(self.work, "index")
        with tr.span("setup"):
            t0 = time.perf_counter()
            with tr.span("corpus"):
                frame = wl.docs_frame(self.spark)
            with tr.span("build"):
                tb = time.perf_counter()
                build_index(frame, wl.cfg, index_dir, text_col="text")
                build_s = time.perf_counter() - tb
            if self.traced:
                build_counts = self.counter.since(snap)
            self._open(index_dir, tr)
            setup_s = time.perf_counter() - t0
            # a fixed warm-up from its own seed stream
            warm = wl.ops("warmup", wl.warmup_kinds)
            t0 = time.perf_counter()
            with tr.span("warmup"):
                for _ in range(WARMUP_PASSES * len(wl.warmup_kinds)):
                    self.read(warm.next(), None, False)
            warmup_s = time.perf_counter() - t0
        text = wl.docs_dict(frame)
        text_bytes = sum(len(v.encode()) for v in text.values())
        index_bytes = tree_bytes(index_dir)

        layers: dict = {}
        if self.traced:
            from probes import layer_probes

            layers = layer_probes(self.spark, wl, frame, index_dir, text)
            layers["build.jobs"], layers["build.tasks"] = build_counts[:2]

        t_prep = time.perf_counter()
        n_batches = 3
        batches = wl.batches(self.spark, n_batches)
        frames = [
            self.spark.createDataFrame(
                list(b.items()), "doc_id long, text string"
            )
            for b in batches
        ]
        prep_s = time.perf_counter() - t_prep
        host_before = host_speed_loop()
        stream = wl.ops("timed", wl.round_kinds)
        occurrence: dict[str, int] = {}
        reads, upserts = [], []
        failed_ops = 0
        t_begin = time.perf_counter()
        deadline = t_begin + self.seconds
        rnd = 0
        round0_s = None
        version = 0
        req = 0
        done = False
        while not done and rnd < n_batches:
            for _ in wl.round_kinds:
                if rnd > 0 and time.perf_counter() >= deadline:
                    done = True
                    break
                op = stream.next()
                n = occurrence.get(op.kind, 0)
                occurrence[op.kind] = n + 1
                try:
                    rec = self.read(op, req, self.traced and n % 2 == 0)
                except Exception:  # noqa: BLE001 — count it, keep measuring
                    traceback.print_exc()
                    failed_ops += 1
                    rec = None
                if rec is not None:
                    rec.update(round=rnd, version=version)
                    reads.append(rec)
                req += 1
            if done or (rnd > 0 and time.perf_counter() >= deadline):
                break
            try:
                rec = self.upsert(batches[rnd], frames[rnd], index_dir, req)
                rec["round"] = rnd
                upserts.append(rec)
                version += 1
                if rnd == 0:
                    round0_s = time.perf_counter() - t_begin
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                failed_ops += 1
                break
            req += 1
            rnd += 1
        timed_s = time.perf_counter() - t_begin
        host_after = host_speed_loop()
        if round0_s is None:  # round 0 failed; the run is marked failed
            round0_s = time.perf_counter() - t_begin
        self.coal.close()

        # answers are checked against the reference as it stood when
        # each op ran (after ``version`` upsert batches)
        t_check = time.perf_counter()
        ref = Reference(text, wl.cfg)
        applied = 0
        wrong = 0
        for rec in reads:
            while applied < rec["version"]:
                ref.upsert(batches[applied])
                applied += 1
            if not wl.check(ref, rec["op"], rec["answer"]):
                wrong += 1
                print(f"wrong answer: {rec['op']} -> "
                      f"{rec['answer'][:self.k]}", file=sys.stderr)
        # the last upsert may have no read after it: check the index's
        # document count against the reference directly
        while applied < version:
            ref.upsert(batches[applied])
            applied += 1
        n_docs = catalog.read_stats(index_dir)["n_docs"]
        if n_docs != len(ref.text):
            wrong += 1
            print(f"index holds {n_docs} docs, expected {len(ref.text)}",
                  file=sys.stderr)
        check_s = time.perf_counter() - t_check
        attempted = len(reads) + len(upserts) + failed_ops
        failed = failed_ops + wrong

        lats = [r["lat"] for r in reads]
        third = max(len(lats) // 3, 1)
        p90, q = tail_quantile(lats)
        diag = {
            "workload": wl.name,
            "seed": wl.seed,
            "traced": self.traced,
            "reads": len(reads),
            "upserts": len(upserts),
            "failed_ratio": failed / attempted,
            "tail_quantile": q,
            "p50_first_third_s": median(lats[:third]),
            "p50_last_third_s": median(lats[-third:]),
            "host_loop_before_s": host_before,
            "host_loop_after_s": host_after,
            "spark_s": self.spark_s,
            "p50_by_kind_s": {
                k: median(r["lat"] for r in reads if r["op"].kind == k)
                for k in sorted({r["op"].kind for r in reads})
            },
            "upsert_samples_s": [u["lat"] for u in upserts],
            "setup_index_s": setup_s,
            "warmup_s": warmup_s,
            "build_s": build_s,
            "prep_s": prep_s,
            "timed_s": timed_s,
            "check_s": check_s,
        }
        if not self.traced:
            up_text = sum(u["text_bytes"] for u in upserts)
            metrics = {
                "setup_s": (self.spark_s + setup_s + warmup_s, "s"),
                "build_docs_per_s": (wl.n_docs / build_s, "1/s"),
                "query_p50_s": (median(lats), "s"),
                "query_p90_s": (p90, "s"),
                # over round 0, whose op mix is the same in every run
                # (later rounds are cut short by the deadline)
                "ops_per_s": (
                    (len(wl.round_kinds) + 1) / round0_s, "1/s"),
                "upsert_p50_s": (
                    median(u["lat"] for u in upserts) if upserts else 0.0,
                    "s"),
                "index_bytes_per_doc_byte": (
                    index_bytes / text_bytes, "ratio"),
                "write_bytes_per_doc_byte": (
                    sum(u["written"] for u in upserts) / max(up_text, 1),
                    "ratio"),
            }
        else:
            metrics = self._layer_metrics(reads, upserts, layers)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }
        #: (op, answer) of every timed read, for same-seed comparisons
        self.answers = [(r["op"], r["answer"]) for r in reads]
        return result, diag

    def _layer_metrics(self, reads, upserts, layers) -> dict:
        from harness import median

        traced = [r for r in reads if r["traced"]]
        untraced = [r for r in reads if not r["traced"]]
        # counts come from round 0 only, which every run completes, so
        # they repeat exactly for a seed
        first = [r for r in traced if r["round"] == 0]
        serve_first = [r for r in first if r["op"].kind == "serve"]
        serve = [r for r in traced if r["op"].kind == "serve"]
        up0 = upserts[0]
        batches = [b for r in serve for b in r["batches"]]
        selfs = self.tracer.self_times()
        m = {
            "compile.rewrite_s": (median(r["compile_s"] for r in traced), "s"),
            "compile.terms_per_op": (_layer_counts(first, "terms"), "count"),
            "search.plan_s": (
                median(r["plan_s"] for r in traced if "plan_s" in r), "s"),
            "search.exec_s": (
                median(r["exec_s"] for r in traced if "exec_s" in r), "s"),
            "search.jobs_per_op": (_layer_counts(first, "jobs"), "count"),
            "search.tasks_per_op": (_layer_counts(first, "tasks"), "count"),
            "search.failed_tasks": (
                sum(r["failed_tasks"] for r in traced)
                + sum(u["failed_tasks"] for u in upserts), "count"),
            "search.open_s": (median(self.open_s), "s"),
            "serve.queue_wait_s": (median(
                r["lat"] - sum(t for _, t in r["batches"]) for r in serve
            ), "s"),
            "serve.batch_size_mean": (
                sum(n for n, _ in batches) / len(batches), "count"),
            "serve.batch_exec_s": (median(t for _, t in batches), "s"),
            "serve.jobs_per_batch": (
                sum(r["jobs"] for r in serve_first)
                / sum(len(r["batches"]) for r in serve_first), "count"),
            "mutation.upsert_s": (
                median(u["mutation_s"] for u in upserts), "s"),
            "mutation.jobs_per_upsert": (up0["jobs"], "count"),
            "mutation.tasks_per_upsert": (up0["tasks"], "count"),
            "mutation.bytes_written_per_upsert": (
                median(u["written"] for u in upserts), "bytes"),
            "mutation.segments": (up0["segments"], "count"),
            "mutation.replaced_per_upsert": (up0["replaced"], "count"),
            "trace.overhead_s": (
                median(r["lat"] for r in traced)
                - median(r["lat"] for r in untraced), "s"),
        }
        for name, unit in LAYER_UNITS.items():
            m[name] = (layers[name], unit)
        for span in SELF_SPANS:
            m[f"self.{span}_s"] = (median(selfs.get(span, [])), "s")
        return m


#: per-layer metrics the traced run measures with probes (probes.py)
LAYER_UNITS = {
    "build.jobs": "count",
    "build.tasks": "count",
    "build.tokenize_s": "s",
    "build.segment_s": "s",
    "tokenize.values_per_s": "1/s",
    "codec.small_block_decode_s": "s",
    "codec.full_block_decode_s": "s",
    "catalog.files": "count",
    "catalog.bytes": "bytes",
    "catalog.blocks": "count",
    "catalog.small_block_share": "ratio",
    "catalog.distinct_terms": "count",
}
#: spans whose median self time the traced run reports
SELF_SPANS = (
    "setup", "corpus", "build", "open", "warmup", "op", "compile", "plan",
    "exec", "upsert", "mutation", "serve.request", "serve.batch",
)


def parse_args(argv=None):
    from workloads import WORKLOADS  # noqa: F401 — import checked in main

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    args = parse_args(argv)
    from harness import make_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = str(ROOT / ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spark = make_spark(work)
        spark_s = time.perf_counter() - T_START
        try:
            runner = Runner(
                spark, WORKLOADS[args.workload](args.seed), args.seconds,
                bool(args.trace), work, spark_s,
            )
            result, diag = runner.run()
        finally:
            t_stop = time.perf_counter()
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    diag["stop_s"] = time.perf_counter() - t_stop
    diag["total_s"] = time.perf_counter() - T_START
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
