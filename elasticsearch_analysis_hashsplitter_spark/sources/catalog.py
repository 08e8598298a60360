"""Index storage layout: postings blocks, lexicon, docstats, tombstones,
and ``stats.json``, the commit that names the live ones.

The engine-native equivalent of Lucene's segment files (SURVEY.md §1.3):

* ``postings/slice=<key>/`` — parquet, term-sorted **block** rows:
    (term, min_doc, max_doc, df, docs BINARY, tfs BINARY, dls BINARY)
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
* ``lexicon_v<N>/`` — parquet (term, df): global per-term document
  frequencies, driver-collectable per query (queries touch few terms).
* ``docstats/slice=<key>/`` — parquet (doc_id, dl, content_sha256):
  per-doc length + the north_rule per-row integrity invariant. A slice's
  docstats hold exactly the docs of its postings.
* ``deletes/``   — append-only parquet tombstone files, one column
  ``doc_id``; each :meth:`SearchEngine.delete_docs` call adds one file
  (written atomically: temp + rename). The Lucene-parity delete model
  (``.del`` liveness sidecars next to immutable segments): postings are
  never rewritten at delete time, every query path masks the union of
  the tombstoned ids, and BM25 stats (n_docs/avgdl/df) stay STALE until
  a purge physically drops the postings and recomputes them — exactly
  ES/Lucene's docs.deleted-until-merge semantics.
* ``stats.json`` — the commit, Lucene's ``segments_N``: the global
  scalars {n_docs, avgdl, total_terms, config} plus ``version``, the live
  ``slices``, the ``lexicon`` directory, the tombstone files already
  ``purged``, the directories ``retired`` by this commit and the slices
  of an unfinished build (``pending``: kept for its re-run, read by
  nobody). Readers read what it names and never list a directory to
  decide membership.

Every write (build, stream segment, upsert, purge, compaction) puts its
output in new directories, then commits with one atomic ``stats.json``
write (:func:`commit`) — Delta Lake's rule. A crash before that write
leaves the previous commit whole; the next writer deletes what the crash
left (:func:`begin_write`). Directories retired by commit N are deleted at
commit N+1, so an engine opened before a write keeps answering from its
snapshot after the write commits. Single writer per index.

A new directory's name carries the version of the commit that first
names it (``<stem>_v<N>`` for a rewritten slice, ``upsert_<N>``,
``compacted_v<N>``, ``stream_<batch>_v<N>``, ``lexicon_v<N>``; a first
build's slices are ``0..n-1``). Versions only grow, so a key is never
reused: a key live in two commits holds the same files in both.

An index written before the commit record (``stats.json`` without
``slices``) reads as every ``slice=`` directory present plus ``lexicon/``;
its first write converts it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
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
    ]
)

_TABLES = ("postings", "docstats")


def postings_path(index_dir: str, slice_id: int | str | None = None) -> str:
    if slice_id is None:
        return os.path.join(index_dir, "postings")
    return os.path.join(index_dir, "postings", f"slice={slice_id}")


def docstats_path(index_dir: str, slice_id: int | str | None = None) -> str:
    if slice_id is None:
        return os.path.join(index_dir, "docstats")
    return os.path.join(index_dir, "docstats", f"slice={slice_id}")


def stats_file(index_dir: str) -> str:
    return os.path.join(index_dir, "stats.json")


def deletes_path(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes")


def write_stats(index_dir: str, stats: dict[str, Any]) -> None:
    # Atomic: stats.json is the commit, so a crash mid-json.dump must
    # never leave a truncated one. Write to a sibling temp file and
    # rename over (same filesystem); fsync the directory after the
    # rename so the rename itself is durable across power loss (a
    # data-fsync alone only makes the CONTENT durable under the temp
    # name).
    os.makedirs(index_dir, exist_ok=True)
    tmp = stats_file(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=2, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, stats_file(index_dir))
    _fsync_dir(index_dir)


def _fsync_dir(path: str) -> None:
    try:
        dfd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # directory fsync unsupported on this filesystem


def read_stats(index_dir: str) -> dict[str, Any]:
    with open(stats_file(index_dir)) as f:
        return json.load(f)


def _entries(path: str) -> list[str]:
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


def read_commit(index_dir: str) -> dict[str, Any]:
    """The index's current commit (no slices and no lexicon when there
    is none yet). For an index written before the commit record,
    ``slices`` and ``lexicon`` are filled in from what is on disk."""
    try:
        stats = read_stats(index_dir)
    except FileNotFoundError:
        return {"slices": [], "lexicon": None}
    if "slices" not in stats:
        stats["slices"] = [
            d.split("=", 1)[1]
            for d in _entries(postings_path(index_dir))
            if d.startswith("slice=")
        ]
        stats["lexicon"] = (
            "lexicon" if os.path.isdir(os.path.join(index_dir, "lexicon"))
            else None
        )
    return stats


def list_postings_slices(index_dir: str) -> list[str]:
    """Live slice keys of the current commit (build slices,
    stream_<batch> segments, upserts, compacted)."""
    return sorted(read_commit(index_dir)["slices"])


def _live_dirs(stats: dict[str, Any]) -> set[str]:
    """The directories commit ``stats`` keeps, relative to the index."""
    keys = [*stats["slices"], *stats.get("pending", ())]
    out = {f"{t}/slice={k}" for t in _TABLES for k in keys}
    if stats.get("lexicon"):
        out.add(stats["lexicon"])
    return out


def _sweep(index_dir: str, keep: set[str]) -> None:
    """Delete every index directory outside ``keep``: slice and lexicon
    directories, and the ``manifest/`` of an index written before the
    commit record. Entries the index does not own (a streaming
    checkpoint placed inside it) are left alone."""
    found = [
        f"{t}/{d}" for t in _TABLES
        for d in _entries(os.path.join(index_dir, t)) if d.startswith("slice=")
    ] + [
        d for d in _entries(index_dir)
        if d in ("manifest", "lexicon") or d.startswith("lexicon_v")
    ]
    for rel in found:
        if rel not in keep:
            shutil.rmtree(os.path.join(index_dir, rel), ignore_errors=True)


def begin_write(index_dir: str) -> dict[str, Any]:
    """Start a write: delete what a crashed writer left uncommitted and
    return the current commit, which the write's :func:`commit` takes as
    its base."""
    stats = read_commit(index_dir)
    _sweep(index_dir, _live_dirs(stats) | set(stats.get("retired", ())))
    return stats


def next_version(base: dict[str, Any]) -> int:
    return base.get("version", 0) + 1


def key_stem(key: str) -> str:
    """``key`` without its ``_v<N>`` version suffix."""
    return re.sub(r"_v\d+$", "", key)


def carry(base: dict[str, Any]) -> dict[str, Any]:
    """``base``'s scalars, config and lexicon, to commit again over a
    changed slice list without recomputing them."""
    return {k: v for k, v in base.items()
            if k not in ("version", "retired", "purged", "pending")}


def commit(index_dir: str, base: dict[str, Any],
           record: dict[str, Any]) -> dict[str, Any]:
    """Commit ``record`` — the scalars, ``slices``, ``lexicon``, the
    tombstone files it ``purged`` and any ``pending`` build slices —
    over ``base``, the commit :func:`begin_write` returned, in one
    atomic ``stats.json`` write. ``base``'s pending slices not named
    again are retired: a build's re-run rebuilds them. Then delete what
    ``base`` retired and the tombstone files ``base`` purged: both stay
    on disk for one commit, for engines still open on the commit
    before. Returns the written record."""
    rec = dict(record)
    live = _live_dirs(rec)
    rec["version"] = next_version(base)
    rec["retired"] = sorted(_live_dirs(base) - live)
    d = deletes_path(index_dir)
    old = set(base.get("purged", ()))
    # a name leaves the list only once its file is gone
    rec["purged"] = sorted(
        set(rec.get("purged", ()))
        | {n for n in old if os.path.exists(os.path.join(d, n))}
    )
    write_stats(index_dir, rec)
    _sweep(index_dir, live | set(rec["retired"]))
    for n in old:
        try:
            os.unlink(os.path.join(d, n))
        except FileNotFoundError:
            pass
    return rec


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
    _fsync_dir(d)
    return final


def list_delete_files(index_dir: str, stats: dict | None = None) -> list[str]:
    """Tombstone file names in force under commit ``stats`` (default:
    the current one): completed files the commit has not purged."""
    purged = set((stats or read_commit(index_dir)).get("purged", ()))
    return [
        name
        for name in _entries(deletes_path(index_dir))
        if not name.startswith(".") and name.endswith(".parquet")
        and name not in purged
    ]


def read_deletes(index_dir: str, names: list[str] | None = None):
    """Union of the tombstone files ``names`` (default: those in force)
    as a sorted, deduplicated int64 numpy array (empty array when none).
    Driver-side pyarrow read — the delete set is the same memory class
    as Lucene's in-RAM per-segment liveness bitsets and is bounded by
    ``SearchEngine.max_deleted_in_memory``; files still mid-write are
    invisible (dot-prefixed temp names, atomic rename in)."""
    import numpy as np
    import pyarrow.parquet as pq

    if names is None:
        names = list_delete_files(index_dir)
    parts = [
        pq.read_table(os.path.join(deletes_path(index_dir), name),
                      columns=["doc_id"])
        .column("doc_id")
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
        for name in names
    ]
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def block_columns(frame: DataFrame) -> DataFrame:
    """``frame``'s posting-block columns in ``BLOCK_SCHEMA`` order,
    without the ``slice`` partition column."""
    return frame.select(*BLOCK_SCHEMA.names)


def _read(spark: SparkSession, index_dir: str, table: str,
          slices: list[str] | None, schema: T.StructType) -> DataFrame:
    """``table``'s parquet in ``slices`` (default: the current commit's)
    under its known ``schema``, with no schema-inference job. Columns a
    file holds beyond the schema (``max_tf``/``min_dl`` of indexes
    written before they were dropped) are not read. The slice key
    surfaces as the ``slice`` partition column. A slice without this
    table's directory is skipped: an index written before the commit
    record may hold postings whose docstats write crashed."""
    if slices is None:
        slices = read_commit(index_dir)["slices"]
    base = os.path.join(index_dir, table)
    paths = [os.path.join(base, f"slice={k}") for k in slices]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", base).parquet(*paths)


def read_postings(spark: SparkSession, index_dir: str,
                  slices: list[str] | None = None) -> DataFrame:
    """The posting blocks of ``slices`` (default: every live slice)."""
    return _read(spark, index_dir, "postings", slices, BLOCK_SCHEMA)


def read_docstats(spark: SparkSession, index_dir: str,
                  slices: list[str] | None = None) -> DataFrame:
    """The docstats of ``slices`` (default: every live slice)."""
    return _read(spark, index_dir, "docstats", slices, DOCSTATS_SCHEMA)


def read_lexicon(spark: SparkSession, index_dir: str,
                 stats: dict[str, Any]) -> DataFrame | None:
    """Commit ``stats``' lexicon, or None when it names none or the
    directory is gone."""
    name = stats.get("lexicon")
    path = name and os.path.join(index_dir, name)
    if not path or not os.path.isdir(path):
        return None
    return spark.read.schema(LEXICON_SCHEMA).parquet(path)


def read_config(index_dir: str) -> HashSplitterConfig:
    return HashSplitterConfig.from_json(read_stats(index_dir)["config"])
