"""Physical-plan regression guards: the scale-critical plan properties
(predicate pushdown to the term-sorted parquet, binary-blob column
pruning on non-decoding paths, partition pruning on the ANN index) must
survive refactors — these asserts fail if a future change silently
un-pushes a filter or drags blob columns into a count path."""

import pytest

from elasticsearch_analysis_hashsplitter_spark.config import HashSplitterConfig
from elasticsearch_analysis_hashsplitter_spark.operators.build import (
    build_index,
)
from elasticsearch_analysis_hashsplitter_spark.operators.search import (
    SearchEngine,
)
from elasticsearch_analysis_hashsplitter_spark.plans import compile as qc

CFG = HashSplitterConfig(
    chunk_length=4, token_mode="tokens", apply_input_cap=False
)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def disk_engine(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("planidx") / "idx")
    docs = spark.createDataFrame(
        [(i, f"spark join window doc{i}") for i in range(200)],
        "doc_id long, content string",
    )
    build_index(docs, CFG, idx, num_partitions=4)
    return SearchEngine.open(spark, idx)


def _docset_scan_plan(engine, monkeypatch, run) -> str:
    """Plan of the postings block scan a doc-set query executes.

    Both doc-set paths run ``SearchEngine._hits_scan``: the driver path
    collects it as Arrow, the distributed path decodes it in a kernel.
    On an index this small ``docs()`` takes the driver path and returns
    a local relation whose plan no longer shows the scan, so the scan is
    captured as ``run`` builds it — exactly one, the one it executed."""
    scans = []
    real = SearchEngine._hits_scan

    def spy(self, node):
        df = real(self, node)
        scans.append(df)
        return df

    monkeypatch.setattr(SearchEngine, "_hits_scan", spy)
    result = run()
    # the driver path ran: the answer is local, the scan was collected
    assert "LocalTableScan" in _plan(result)
    assert len(scans) == 1
    return _plan(scans[0])


def test_term_filter_pushes_down(disk_engine, monkeypatch):
    plan = _docset_scan_plan(
        disk_engine, monkeypatch, lambda: disk_engine.chunk_term("Aspar")
    )
    assert "PushedFilters" in plan
    assert "EqualTo(term,Aspar)" in plan


def test_scored_term_list_pushes_down(disk_engine, monkeypatch):
    """The scored reads select their terms with one SQL ``term IN``
    expression; it must reach the parquet scan as a pushed ``In``
    filter, for a short term list and for one past the optimizer's
    ``InSet`` conversion threshold (10 literals)."""
    # the distributed plan: small reads otherwise score on the driver
    monkeypatch.setattr(disk_engine, "_DRIVER_MAX_POSTINGS", 0)
    for value in ("spark join", " ".join(f"doc{i}" for i in range(12))):
        terms = list(qc.field_query(value, CFG).terms)
        plan = _plan(disk_engine.bm25_scores(terms, conjunctive=False))
        pushed = [ln for ln in plan.splitlines()
                  if "PushedFilters" in ln and "In(term, [" in ln]
        assert pushed, (value, plan)


def test_docset_path_prunes_blob_columns(disk_engine, monkeypatch):
    plan = _docset_scan_plan(
        disk_engine, monkeypatch, lambda: disk_engine.chunk_term("Aspar")
    )
    # the doc-set path decodes only `docs`; tf/dl blobs must not be read
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "docs:binary" in scan
    assert "tfs" not in scan and "dls" not in scan


def test_prefix_pushes_startswith(disk_engine, monkeypatch):
    # 3 chars: not a whole chunk, so the compiler emits a TermPrefixLen
    # leaf (a 4-char prefix folds to an exact TermEq — also pushed)
    plan = _docset_scan_plan(
        disk_engine, monkeypatch, lambda: disk_engine.prefix("spa")
    )
    assert "StringStartsWith(term," in plan


def test_topk_is_take_ordered(disk_engine, monkeypatch):
    # the distributed plan: small reads otherwise score on the driver
    monkeypatch.setattr(disk_engine, "_DRIVER_MAX_POSTINGS", 0)
    plan = _plan(disk_engine.search("spark", k=5))
    assert "TakeOrderedAndProject" in plan


def test_ann_index_partition_pruning(spark, tmp_path):
    import numpy as np

    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        rp_lsh_index,
        rp_lsh_topk,
    )

    rng = np.random.RandomState(0)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in rng.normal(size=8)]
    # rows_per_bucket forces a real multi-bucket fan-out at 100 rows
    # (default sizing would pick nkb=1 here — the small-corpus tier)
    idx = rp_lsh_index(df, dim=8, path=str(tmp_path / "ann"), n_bits=16,
                       bands=4, rows_per_bucket=8)
    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        _index_nkb,
    )

    assert _index_nkb(idx) == 16
    plan = _plan(rp_lsh_topk(df, q, k=3, n_bits=16, bands=4, buckets=idx))
    # the kb sub-bucket is what makes the filter PRUNE: every query
    # probes all bands, so a band-only PartitionFilters matches every
    # partition (the r5 1M probe measured that layout slower than exact
    # brute force). Assert kb appears INSIDE the PartitionFilters clause
    # — "PartitionFilters" merely being present is vacuous (it prints
    # even when empty).
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "kb" in m.group(1) and "band" in m.group(1), plan
    assert "EqualTo(key," in plan
    # the index carries the vectors: candidates re-rank off the pruned
    # band partitions, no join back to the (full-scan) base table
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_batch_ann_plan_one_scan_one_exchange(spark, tmp_path):
    """The batch ANN tiers' claim (PLANS.md §10): for ANY number of
    queries the plan has ONE partition-pruned index scan, broadcast
    joins for the probe/query tables (never SortMergeJoin), and every
    Exchange sits ABOVE the scan over candidate/result-sized data:
    LSH pays at most 3 (candidate dedup — semantically required, a
    vector matching in two bands must score once — window, final
    presentation sort), IVF at most 2 (no dedup: a vector lives in
    exactly one centroid partition)."""
    import re

    import numpy as np

    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
        ivf_topk_batch,
        rp_lsh_index,
        rp_lsh_topk_batch,
    )

    rng = np.random.RandomState(1)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    qs = {
        i: [float(x) for x in rng.normal(size=8)] for i in range(16)
    }
    lsh_idx = rp_lsh_index(df, dim=8, path=str(tmp_path / "l"), n_bits=16,
                           bands=4, rows_per_bucket=8)
    cents = ivf_centroids(df, n_centroids=8, dim=8)
    ivf_idx = ivf_index(df, cents, str(tmp_path / "i"))
    plans = {
        "lsh": _plan(rp_lsh_topk_batch(df, qs, k=3, n_bits=16, bands=4,
                                       buckets=lsh_idx)),
        "ivf": _plan(ivf_topk_batch(df, qs, cents, k=3, nprobe=3,
                                    assignments=ivf_idx)),
    }
    for name, plan in plans.items():
        scans = re.findall(r"\(\d+\) Scan parquet", plan)
        assert len(scans) == 1, (name, plan)
        # partition pruning reaches the one scan
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and m.group(1).strip(), (name, plan)
        exchanges = re.findall(r"\(\d+\) Exchange", plan)
        assert len(exchanges) <= (3 if name == "lsh" else 2), (
            name, exchanges, plan,
        )
        assert "hashpartitioning(query_id" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)


def test_ivf_index_pruned_scan_never_reads_base_table(spark, tmp_path):
    """Serving from an ivf_index table: the probed read is a
    partition-pruned scan of the nprobe centroid partitions carrying
    the vectors themselves — NO join back to the base table (the 1M
    probe measured the old id-only semi-join layout slower than exact
    brute force, because the dominant scan was never pruned)."""
    import numpy as np

    from elasticsearch_analysis_hashsplitter_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
        ivf_topk,
    )

    rng = np.random.RandomState(1)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in rng.normal(size=8)]
    cents = ivf_centroids(df, n_centroids=8, sample_rows=200)
    idx = ivf_index(df, cents, str(tmp_path / "ivf"))
    served = ivf_topk(df, q, cents, k=3, nprobe=2, assignments=idx)

    plan = _plan(served)
    import re

    assert re.search(r"PartitionFilters: \[centroid#\d+ IN \(", plan)
    assert "Join" not in plan  # vectors come from the index partitions
    # exactly one file-scan node: the index; the in-memory base df is absent
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


# ---------------------------------------------------------------------------
# parent/child + late-r5 scoring surfaces (plan shapes)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pc_source(spark):
    return spark.createDataFrame(
        [
            (i, f"p{i % 5}", i * 3 + 1, f"spark join window doc{i}")
            for i in range(200)
        ],
        "doc_id long, source string, n_chars long, text string",
    )


def test_has_parent_broadcasts_parent_dim(disk_engine, pc_source):
    """The matching parent keys are the classic small dim: the child
    semi join must be broadcast — a shuffled corpus here would be the
    100 TB regression."""
    plan = _plan(disk_engine.has_parent("parent LIKE 'p1%'", pc_source))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_top_children_is_take_ordered(disk_engine, pc_source):
    """Parent ranking ends in per-partition heaps (TakeOrderedAndProject),
    never a global sort, and the parent aggregate gets a map-side
    partial (two HashAggregate levels) to absorb hot-parent skew."""
    plan = _plan(
        disk_engine.top_children("spark", pc_source, score_mode="sum")
    )
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_script_filter_prunes_source_columns(
    disk_engine, spark, tmp_path_factory, pc_source
):
    """The corpus side of the script semi join must read only doc_id +
    the script's columns — dragging `text` into the scan would read
    the whole corpus blob at scale (and the script predicate must be
    pushed into the scan, not evaluated above it)."""
    p = str(tmp_path_factory.mktemp("pcsrc") / "docs.parquet")
    pc_source.write.parquet(p)
    src = spark.read.parquet(p)
    df = disk_engine.script_filter("spark", "n_chars % 2 = 0", src)
    plan = _plan(df)
    src_scans = [
        seg for seg in plan.split("ReadSchema: ")[1:]
        if "n_chars" in seg.splitlines()[0]
    ]
    assert src_scans, "source parquet scan missing from plan"
    assert all(
        "text" not in seg.splitlines()[0] for seg in src_scans
    ), "script filter scan reads the text blob"


def test_custom_filters_score_boost_pick_is_one_aggregate(disk_engine):
    """The per-filter doc sets combine through ONE min_by groupBy (not
    a join per filter) before the candidate-sized left join, and the
    top-k stays TakeOrderedAndProject; no cartesian shapes appear."""
    from elasticsearch_analysis_hashsplitter_spark.plans import (
        compile as qc,
    )

    filters = [
        (qc.prefix_query("spa", CFG), 1.5),
        (qc.field_query("join", CFG, scored=False), 2.0),
        (qc.field_query("window", CFG, scored=False), 0.5),
    ]
    df = disk_engine.custom_filters_score(
        "spark", filters, score_mode="first", k=10
    )
    plan = _plan(df)
    assert "min_by" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ids_filter_pushes_into_docstats_scan(disk_engine):
    """DocIds evaluates on the doc-stats side, never the postings:
    the id list must reach the parquet scan as a pushed In filter and
    the postings files must not appear in the plan at all."""
    plan = _plan(disk_engine.docs(qc.ids_query([3, 7, 11])))
    assert "PushedFilters" in plan
    assert "In(doc_id" in plan
    assert "postings" not in plan
