"""Tests of the benchmark's own machinery: tracing arithmetic, the
answer check, job counting across the engine's pool threads, and
same-seed determinism of the count metrics.

    python3 -m pytest perfbench/tests -q
"""

import pytest

import run
from harness import JobCounter, Tracer, tail_quantile
from workloads import HashLookup, IngestSearch, topk_ok

from elasticsearch_analysis_hashsplitter_spark.config import CODE_CORPUS
from elasticsearch_analysis_hashsplitter_spark.operators import build
from elasticsearch_analysis_hashsplitter_spark.streaming import incremental


def test_self_time_subtracts_union_of_children():
    tr = Tracer(True)
    tr.spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"name": "b", "start": 3.0, "end": 6.0, "parent": 0},  # overlaps a
        {"name": "c", "start": 8.0, "end": 12.0, "parent": 0},  # clipped
    ]
    st = tr.self_times()
    assert st["op"] == [pytest.approx(10.0 - 5.0 - 2.0)]
    assert st["a"] == [3.0] and st["c"] == [4.0]


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op"):
        pass
    assert tr.spans == []


def test_tail_quantile_keeps_ten_samples_beyond():
    xs = list(range(100))
    assert tail_quantile(xs) == (89, 0.9)
    v, q = tail_quantile(list(range(40)))
    assert v == 29 and sum(x > v for x in range(40)) == 10
    # too few samples for a tail: the (upper) median
    assert tail_quantile([3, 1, 2]) == (2, 2 / 3)


def test_topk_check():
    ref = {1: 2.0, 2: 3.0, 3: 2.0, 4: 1.0}
    assert topk_ok([(2, 3.0), (1, 2.0), (3, 2.0)], ref, k=3)
    assert topk_ok([(2, 3.0), (1, 2.0 + 1e-12)], ref, k=2)
    assert not topk_ok([(2, 3.0), (3, 2.0)], ref, k=2)  # tie order
    assert not topk_ok([(2, 3.0), (1, 2.0)], ref, k=3)  # short
    assert not topk_ok([(2, 3.0), (4, 1.0)], ref, k=2)  # skips a hit
    assert not topk_ok([(2, 3.1)], ref, k=1)  # score
    assert topk_ok([], {}, k=10)


def _small_index(spark, path, n=300):
    from elasticsearch_analysis_hashsplitter_spark import corpus

    docs = corpus.generate_corpus(spark, n, seed=5).selectExpr(
        "doc_id", "content AS text"
    )
    build.build_index(docs, CODE_CORPUS, str(path), text_col="text")


def _upsert_counts(spark, path) -> tuple[int, int]:
    from elasticsearch_analysis_hashsplitter_spark import corpus

    batch = corpus.generate_corpus(spark, 40, seed=6, start=280).selectExpr(
        "doc_id", "content AS text"
    )
    counter = JobCounter(spark.sparkContext)
    snap = counter.snapshot()
    incremental.upsert_docs(
        spark, str(path), batch, CODE_CORPUS, text_col="text"
    )
    jobs, tasks, failed = counter.since(snap)
    assert failed == 0
    return jobs, tasks


def test_counter_sees_jobs_of_overlapped_upsert(spark, tmp_path, monkeypatch):
    """upsert_docs overlaps independent jobs from pool threads; counted
    by job id, the overlapped run shows exactly the jobs and tasks of
    the same upsert with every helper made sequential."""
    _small_index(spark, tmp_path / "a")
    _small_index(spark, tmp_path / "b")
    overlapped = _upsert_counts(spark, tmp_path / "a")

    def sequential(thunks, max_workers=4):
        return [t() for t in thunks]

    monkeypatch.setattr(build, "run_jobs_pool", sequential)
    monkeypatch.setattr(incremental, "run_jobs_pool", sequential)
    assert _upsert_counts(spark, tmp_path / "b") == overlapped
    assert overlapped[0] > 5


class _SmallHash(HashLookup):
    n_docs = 400


class _SmallIngest(IngestSearch):
    n_docs = 300
    batch_size = 20


#: per-layer metrics that are counts of work, not times
COUNT_METRICS = (
    "compile.terms_per_op", "search.jobs_per_op", "search.tasks_per_op",
    "serve.batch_size_mean", "serve.jobs_per_batch", "build.jobs",
    "build.tasks", "catalog.files", "catalog.blocks",
    "catalog.small_block_share", "catalog.distinct_terms",
    "mutation.jobs_per_upsert", "mutation.tasks_per_upsert",
    "mutation.segments", "mutation.replaced_per_upsert",
)


@pytest.mark.parametrize("wl_cls", [_SmallHash, _SmallIngest])
def test_same_seed_same_counts_and_answers(spark, tmp_path, wl_cls):
    outs = []
    for i in range(2):
        runner = run.Runner(
            spark, wl_cls(7), 0.0, True, str(tmp_path / str(i)), 0.0
        )
        result, _ = runner.run()
        assert result["correct"], result
        outs.append((result["metrics"], runner.answers))
    (m1, a1), (m2, a2) = outs
    assert a1 == a2 and len(a1) == len(wl_cls.round_kinds)
    for name in COUNT_METRICS:
        assert m1[name] == m2[name], name
    assert set(m1) == set(m2)
