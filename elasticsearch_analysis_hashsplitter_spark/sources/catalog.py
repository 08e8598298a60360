"""Index storage layout: postings blocks, lexicon, docstats, stats sidecar.

The engine-native equivalent of Lucene's segment files (SURVEY.md §1.3):

* ``postings/``  — parquet, term-sorted **block** rows:
    (term, min_doc, max_doc, df, max_tf, min_dl, docs BINARY, tfs BINARY, dls BINARY)
  Each row holds <= block_size postings for one term, docID-sorted,
  delta+varbyte encoded (functions/codec.py). A hot term spans many block
  rows (possibly across build slices) — this is the skew story: range
  partitioning on (term, doc_id) splits heavy posting lists across
  partitions and the block format makes the fragments directly queryable,
  no salt+merge second pass needed. Term-sorted files give parquet
  min/max row-group stats, so term predicates prune I/O exactly like the
  reference's term-dictionary seek (WildcardTermEnum.java:56-69).
  ``dls`` embeds each posting's document length so BM25 scoring needs no
  join against docstats at query time.
* ``lexicon/``   — parquet (term, df, max_tf, min_dl): global per-term stats,
  driver-collectable per query (queries touch few terms).
* ``docstats/``  — parquet (doc_id, dl, content_sha256): per-doc length +
  the north_rule per-row integrity invariant.
* ``stats.json`` — {n_docs, avgdl, total_terms, config} global scalars.
* ``manifest/``  — per-slice JSON lineage + metrics; a slice with a
  manifest entry is skipped on resume (checkpoint-resumable build).
* ``deletes/``   — append-only parquet tombstone files, one column
  ``doc_id``; each :meth:`SearchEngine.delete_docs` call adds one file
  (written atomically: temp + rename). The Lucene-parity delete model
  (``.del`` liveness sidecars next to immutable segments): postings are
  never rewritten at delete time, every query path masks the union of
  the tombstoned ids, and BM25 stats (n_docs/avgdl/df) stay STALE until
  ``compact_index`` physically purges the postings and recomputes them
  — exactly ES/Lucene's docs.deleted-until-merge semantics.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..config import HashSplitterConfig

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("min_doc", T.LongType(), False),
        T.StructField("max_doc", T.LongType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        # block-min document length: BM25 contribution grows as dl
        # shrinks, so min_dl yields a SOUND per-term upper bound that is
        # much tighter than the dl->0 limit (MaxScore prunes more)
        T.StructField("min_dl", T.LongType(), False),
        T.StructField("docs", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
    ]
)

DOCSTATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("dl", T.LongType(), False),
        T.StructField("content_sha256", T.StringType(), False),
    ]
)

LEXICON_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_dl", T.LongType(), False),
    ]
)


def postings_path(index_dir: str, slice_id: int | str | None = None) -> str:
    if slice_id is None:
        return os.path.join(index_dir, "postings")
    return os.path.join(index_dir, "postings", f"slice={slice_id}")


def lexicon_path(index_dir: str) -> str:
    return os.path.join(index_dir, "lexicon")


def docstats_path(index_dir: str, slice_id: int | str | None = None) -> str:
    if slice_id is None:
        return os.path.join(index_dir, "docstats")
    return os.path.join(index_dir, "docstats", f"slice={slice_id}")


def stats_file(index_dir: str) -> str:
    return os.path.join(index_dir, "stats.json")


def manifest_file(index_dir: str, slice_id: int) -> str:
    return os.path.join(index_dir, "manifest", f"slice-{slice_id}.json")


def write_stats(index_dir: str, stats: dict[str, Any]) -> None:
    # Atomic: stats.json doubles as the index-health marker (see
    # recover_compaction.healthy), so its existence must imply a
    # complete file — a crash mid-json.dump must never leave a
    # truncated stats.json that marks a corrupt dir "healthy".
    # Write to a sibling temp file and rename over (same filesystem);
    # fsync the directory after the rename so the rename itself is
    # durable across power loss (a data-fsync alone only makes the
    # CONTENT durable under the temp name).
    os.makedirs(index_dir, exist_ok=True)
    tmp = stats_file(index_dir) + ".tmp"
    try:
        # a crash between a previous write and its rename leaves a
        # stale .tmp (a non-core entry, otherwise preserved forever
        # across compactions)
        os.unlink(tmp)
    except OSError:
        pass
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=2, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, stats_file(index_dir))
    try:
        dfd = os.open(index_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # directory fsync unsupported on this filesystem


def read_stats(index_dir: str) -> dict[str, Any]:
    with open(stats_file(index_dir)) as f:
        return json.load(f)


def write_manifest(index_dir: str, slice_id: int, entry: dict[str, Any]) -> None:
    os.makedirs(os.path.join(index_dir, "manifest"), exist_ok=True)
    with open(manifest_file(index_dir, slice_id), "w") as f:
        json.dump(entry, f, indent=2, sort_keys=True)


def manifest_exists(index_dir: str, slice_id: int) -> bool:
    return os.path.exists(manifest_file(index_dir, slice_id))


def read_manifests(index_dir: str) -> list[dict[str, Any]]:
    mdir = os.path.join(index_dir, "manifest")
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in sorted(os.listdir(mdir)):
        with open(os.path.join(mdir, name)) as f:
            out.append(json.load(f))
    return out


def list_postings_slices(index_dir: str) -> list[str]:
    """Slice keys currently present under postings/ (build slices,
    stream_<batch> segments, compacted)."""
    p = postings_path(index_dir)
    if not os.path.isdir(p):
        return []
    return sorted(
        d.split("=", 1)[1] for d in os.listdir(p) if d.startswith("slice=")
    )


#: the directory entries that make up an index (everything else found
#: under an index dir — e.g. a streaming checkpoint a caller placed
#: there — is preserved verbatim across compaction swaps). ``deletes``
#: is core: a compaction APPLIES the tombstones, so the compacted
#: output must never inherit the old delete files (they would re-mask
#: already-purged ids — harmless but unbounded growth), and a stale
#: pre-compact sibling's deletes must never be salvaged into a healthy
#: index whose own deletes dir is authoritative.
CORE_ENTRIES = (
    "postings", "docstats", "lexicon", "manifest", "stats.json", "deletes",
)


def deletes_path(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes")


def write_deletes(index_dir: str, doc_ids) -> str:
    """Append one tombstone file with the given doc ids (deduplicated,
    sorted int64). Atomic: written under a temp name and renamed in, so
    a reader listing the dir never sees a partial file; the directory
    fd is fsynced after the rename (same durability argument as
    :func:`write_stats`). Returns the file path."""
    import uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    d = deletes_path(index_dir)
    os.makedirs(d, exist_ok=True)
    name = f"del-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), tmp)
    final = os.path.join(d, name)
    os.rename(tmp, final)
    try:
        dfd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass
    return final


def list_delete_files(index_dir: str) -> list[str]:
    """Completed tombstone file names (mid-write temp names excluded)."""
    d = deletes_path(index_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        name
        for name in os.listdir(d)
        if not name.startswith(".") and name.endswith(".parquet")
    )


def read_deletes(index_dir: str):
    """Union of all tombstone files as a sorted, deduplicated int64
    numpy array (empty array when none). Driver-side pyarrow read — the
    delete set is the same memory class as Lucene's in-RAM per-segment
    liveness bitsets and is bounded by
    ``SearchEngine.max_deleted_in_memory``; files still mid-write are
    invisible (dot-prefixed temp names, atomic rename in)."""
    import numpy as np
    import pyarrow.parquet as pq

    d = deletes_path(index_dir)
    parts = []
    for name in list_delete_files(index_dir):
        parts.append(
            pq.read_table(os.path.join(d, name), columns=["doc_id"])
            .column("doc_id")
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def recover_compaction(index_dir: str) -> bool:
    """Recover from a crash during ``maybe_compact``'s whole-directory
    swap. The swap leaves exactly one non-healthy state possible — the
    instant between ``rename(index_dir, .pre_compact)`` and
    ``rename(.compact_tmp, index_dir)`` — where the index dir is absent
    but BOTH siblings are intact. Recovery prefers the compacted tmp
    (completing the swap, it already carries the non-core entries) and
    falls back to the pre-compact original. On a healthy index, stale
    siblings from an earlier crash are cleaned up. Returns True iff the
    index dir was absent at entry and is healthy at exit — restored by
    this caller or by a concurrent one; False when it was already
    healthy (nothing to restore) or when no intact sibling exists.

    Concurrent-reader safe: this runs from ``SearchEngine.open`` (a
    reader API), so two readers may race through the same repair. Every
    rename is wrapped so the loser treats "someone else already
    recovered" (OSError + index now healthy) as success. Stale-sibling
    cleanup first CLAIMS the sibling by renaming it to a
    process-unique tombstone — the rename is atomic, so exactly one
    cleaner ever salvages/deletes a given sibling (two racing cleaners
    previously could interleave: A's rmtree deleting entries B was
    still iterating, losing un-moved non-core entries such as a
    streaming checkpoint). A cleaner that crashes mid-salvage leaves a
    tombstone behind; tombstones of dead pids are adopted (salvaged +
    removed) by later callers. Writer concurrency is still
    single-writer: never run a compaction concurrently with another
    compaction."""
    import shutil
    import uuid

    base = index_dir.rstrip("/")
    bak, tmp = base + ".pre_compact", base + ".compact_tmp"

    def healthy(d: str) -> bool:
        return os.path.exists(os.path.join(d, "stats.json"))

    was_unhealthy = not healthy(index_dir)
    if was_unhealthy:
        restored = False
        for src in (tmp, bak):  # prefer the completed compaction
            if os.path.isdir(src) and healthy(src):
                try:
                    os.rename(src, index_dir)
                    restored = True
                except OSError:
                    # lost the race: another reader renamed first (src
                    # gone, or index_dir now exists) — re-check below
                    pass
                break
        if not restored and not healthy(index_dir):
            return False
        # fall through: index dir healthy now — clean up like any reader
    def salvage_and_remove(claimed: str) -> None:
        # pre-swap crash: non-core entries may already have moved
        # into tmp — bring back any the index dir lacks
        if healthy(claimed):
            for name in list(os.listdir(claimed)):
                if name in CORE_ENTRIES:
                    continue
                dst = os.path.join(index_dir, name)
                if not os.path.exists(dst):
                    try:
                        os.rename(os.path.join(claimed, name), dst)
                    except OSError:
                        pass
        shutil.rmtree(claimed, ignore_errors=True)

    for stale in (bak, tmp):
        # atomically claim the sibling before touching its contents:
        # only the claim winner salvages/deletes it
        if os.path.isdir(stale):
            claim = f"{stale}.claim-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(stale, claim)
            except OSError:
                pass  # another cleaner claimed it first
            else:
                salvage_and_remove(claim)
        # adopt tombstones abandoned by a cleaner that died mid-salvage
        parent = os.path.dirname(base) or "."
        prefix = os.path.basename(stale) + ".claim-"
        try:
            entries = os.listdir(parent)
        except OSError:
            entries = []
        for name in entries:
            if not name.startswith(prefix):
                continue
            try:
                pid = int(name[len(prefix):].split("-", 1)[0])
                os.kill(pid, 0)
                continue  # claimer still alive — leave it alone
            except ProcessLookupError:
                pass  # dead claimer: adopt
            except (OSError, ValueError):
                continue  # alive-but-not-ours / unparseable: leave it
            orphan = os.path.join(parent, name)
            mine = f"{stale}.claim-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(orphan, mine)  # re-claim before touching
            except OSError:
                continue
            salvage_and_remove(mine)
    return was_unhealthy and healthy(index_dir)


def block_columns(frame: DataFrame) -> DataFrame:
    """``frame``'s posting-block columns in ``BLOCK_SCHEMA`` order,
    without the ``slice`` partition column (``min_dl`` is absent on
    indexes built before it)."""
    return frame.select(*[c for c in BLOCK_SCHEMA.names if c in frame.columns])


def _has_min_dl(path: str) -> bool:
    """Whether every data directory under ``path`` holds ``min_dl``,
    from one parquet footer per directory (one write each) read on the
    driver — no Spark job. Hidden ``_``/``.`` entries are skipped as
    Spark's file listing skips them: a writer's ``_temporary`` attempt
    directory (in flight, or left by a crash) may hold a part file with
    no footer yet."""
    import pyarrow.parquet as pq

    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d[0] not in "._"]
        parts = [f for f in files
                 if f.endswith(".parquet") and f[0] not in "._"]
        if parts and "min_dl" not in pq.read_schema(
            os.path.join(root, parts[0])
        ).names:
            return False
    return True


def _read(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """``path``'s parquet under its known ``schema``, with no
    schema-inference job. ``min_dl`` leaves the schema when files
    written before it lack it: pinned, it would read as nulls there,
    and the ``"min_dl" in columns`` checks would build null prune
    bounds. Slice subdirectories (slice=k) still surface as a
    partition column via parquet partition discovery."""
    if "min_dl" in schema.names and not _has_min_dl(path):
        schema = T.StructType([f for f in schema if f.name != "min_dl"])
    return spark.read.schema(schema).parquet(path)


def read_postings(spark: SparkSession, index_dir: str,
                  slice_id: int | str | None = None) -> DataFrame:
    """The whole index's posting blocks, or one slice's."""
    return _read(spark, postings_path(index_dir, slice_id), BLOCK_SCHEMA)


def read_lexicon(spark: SparkSession, index_dir: str) -> DataFrame:
    return _read(spark, lexicon_path(index_dir), LEXICON_SCHEMA)


def read_docstats(spark: SparkSession, index_dir: str,
                  slice_id: int | str | None = None) -> DataFrame:
    """The whole index's docstats, or one slice's."""
    return _read(spark, docstats_path(index_dir, slice_id), DOCSTATS_SCHEMA)


def read_config(index_dir: str) -> HashSplitterConfig:
    return HashSplitterConfig.from_json(read_stats(index_dir)["config"])
