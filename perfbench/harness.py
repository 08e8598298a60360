"""Measurement plumbing shared by the benchmark workloads: the fixed Spark
session, Spark job/task counting, in-memory span tracing, latency
quantiles and small filesystem helpers.

Nothing here changes the engine: every number is taken from outside,
around calls into the package's public functions.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import threading
import time

#: fixed Spark settings (the benchmark never reads SPARK_GRAFT_* knobs)
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def make_spark(work_dir: str):
    """``local[nproc]`` session whose scratch files all stay in
    ``work_dir``. Must run before anything else starts a JVM: the
    environment set here is what the JVM and its Python workers
    inherit."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    from pyspark.sql import SparkSession

    # -XX:-UsePerfData: the JVM would otherwise write its perf-counter
    # file under /tmp whatever java.io.tmpdir says
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = (
        SparkSession.builder.master(f"local[{cores()}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class JobCounter:
    """Counts the Spark jobs, tasks and failed tasks started between two
    points of a closed loop.

    Jobs are matched by id, not by job group: Spark numbers jobs
    sequentially per context, so every job with an id above the
    snapshot was started after it, whichever driver thread submitted it
    (the engine overlaps independent jobs from pool threads, which do
    not inherit the caller's job group). The status store is fed
    asynchronously by the listener bus, so both ends drain it first.
    """

    def __init__(self, sc):
        self._sc = sc
        self._bus = sc._jsc.sc().listenerBus()

    def _known_jobs(self) -> list[int]:
        self._bus.waitUntilEmpty()
        return list(self._sc.statusTracker().getJobIdsForGroup(None))

    def snapshot(self) -> int:
        return max(self._known_jobs(), default=-1)

    def since(self, snap: int) -> tuple[int, int, int]:
        """(jobs, completed tasks, failed tasks) started after ``snap``."""
        tracker = self._sc.statusTracker()
        jobs = tasks = failed = 0
        for job_id in self._known_jobs():
            if job_id <= snap:
                continue
            jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        return jobs, tasks, failed


class Tracer:
    """In-memory spans: (name, start, end, parent index, request id).

    A disabled tracer records nothing and hands out one shared no-op
    context, so the untraced run pays no bookkeeping. Parents come from
    a per-thread stack unless given explicitly.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._null = contextlib.nullcontext()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, req=None, parent=None, **attrs):
        """Context for one span; yields its record (None when disabled).
        ``parent`` (a record's ``id``) links a span to a cause on
        another thread, such as a coalesced batch to its request."""
        if not self.enabled:
            return self._null
        return self._span(name, req, parent, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, req, parent, attrs: dict):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent,
            "req": req,
            **attrs,
        }
        with self._lock:
            idx = rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, list[float]]:
        """name -> self time of each span: its duration minus the union
        of the intervals its children cover (children may overlap)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"])
                )
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out.setdefault(s["name"], []).append(
                (s["end"] - s["start"]) - covered
            )
        return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def tail_quantile(xs) -> tuple[float, float]:
    """(value, quantile) of the highest percentile up to p90 that still
    has at least ten samples beyond it; the median when there are too
    few samples for any tail."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), 0.0
    idx90 = max(0, -(-9 * n // 10) - 1)
    idx = max(min(idx90, n - 11), n // 2)
    return s[idx], (idx + 1) / n


def host_speed_loop() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed probe that
    involves neither Spark nor the engine."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def file_ids(path: str) -> dict[tuple[int, int], int]:
    """(inode, mtime_ns) -> size for every file under ``path``; two
    snapshots differ exactly in the files written in between (a purge
    hardlinks the slices it leaves alone, so those keep their inode)."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[(st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def bytes_written(before: dict, after: dict) -> int:
    return sum(size for key, size in after.items() if key not in before)
