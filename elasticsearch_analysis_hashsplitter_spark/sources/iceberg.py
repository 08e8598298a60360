"""Minimal pure-Python Apache Iceberg table source/sink.

``BASELINE.json input_hint`` names the engine's input as an *Iceberg
table of source-code repositories* ``(repo, path, commit, lang,
content)``. This container ships no Iceberg runtime jars and no
spark-avro module (re-checked every round), so the metadata layer is
implemented here directly against the PUBLIC Iceberg table-spec
(https://iceberg.apache.org/spec/) on top of the pure-Python Avro
container codec in :mod:`.avro_codec`:

* :func:`read_table` — resolve the current (or a named) snapshot from
  ``metadata/*.metadata.json``, walk its manifest list and manifests
  (Avro), and hand the surviving data-file paths to ONE
  ``spark.read.schema(...).parquet(*paths)`` — so Catalyst still does
  column pruning / predicate pushdown / partition coalescing over the
  file set exactly as it would under the official runtime; the Python
  side touches only metadata (KBs per manifest), never data rows.
  The Avro reader is schema-driven from each file's embedded writer
  schema and field access tolerates v1/v2 naming, so manifests written
  by spec-conforming writers (not only ours) decode.
* :func:`write_table` — the fixture-and-sink half: writes data files
  via Spark parquet, then manifest / manifest-list / ``vN.metadata
  .json`` / ``version-hint.text`` per the v2 spec (field-ids stamped
  in the Avro schemas, name-mapping property for engines that resolve
  columns by id), with append snapshots carrying prior manifests
  forward.

Honest verification status: round-trip (write_table -> read_table ->
values) plus spec-shape assertions are test-covered; cross-IMPL
verification (reading a Java-Iceberg-written table) stays blocked on
the jars being absent in this environment — the reader is written to
the spec precisely so that check can run the moment they appear.

Scope fences, stated loudly rather than half-implemented: merge-on-read
delete files raise (content != data), unpartitioned spec only (the
engine's own index build re-partitions immediately downstream), and
Avro codecs null/deflate (see avro_codec). Row-group/file pruning via
Iceberg column stats is delegated to parquet footers, which Spark
already reads.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .avro_codec import read_container, write_container

# ---------------------------------------------------------------------------
# type bridge: Iceberg schema JSON <-> Spark StructType
# ---------------------------------------------------------------------------

_PRIM_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "time": T.LongType(),  # micros since midnight; no Spark TimeType
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
}

_SPARK_TO_PRIM = {
    T.BooleanType(): "boolean",
    T.IntegerType(): "int",
    T.LongType(): "long",
    T.FloatType(): "float",
    T.DoubleType(): "double",
    T.DateType(): "date",
    T.TimestampNTZType(): "timestamp",
    T.TimestampType(): "timestamptz",
    T.StringType(): "string",
    T.BinaryType(): "binary",
}


def _iceberg_type_to_spark(t):
    if isinstance(t, str):
        if t in _PRIM_TO_SPARK:
            return _PRIM_TO_SPARK[t]
        if t.startswith("decimal"):
            p, s = t[t.index("(") + 1 : t.index(")")].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed"):
            return T.BinaryType()
        raise ValueError(f"iceberg type {t!r} not supported")
    k = t["type"]
    if k == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    _iceberg_type_to_spark(f["type"]),
                    not f.get("required", False),
                )
                for f in t["fields"]
            ]
        )
    if k == "list":
        return T.ArrayType(
            _iceberg_type_to_spark(t["element"]),
            not t.get("element-required", False),
        )
    if k == "map":
        return T.MapType(
            _iceberg_type_to_spark(t["key"]),
            _iceberg_type_to_spark(t["value"]),
            not t.get("value-required", False),
        )
    raise ValueError(f"iceberg type {t!r} not supported")


def _spark_type_to_iceberg(dt, counter):
    """-> iceberg type JSON; ``counter`` is a one-element list allocating
    fresh field-ids depth-first (any unique assignment is spec-valid)."""
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            counter[0] += 1
            fid = counter[0]
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _spark_type_to_iceberg(f.dataType, counter),
                }
            )
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.ArrayType):
        counter[0] += 1
        eid = counter[0]
        return {
            "type": "list",
            "element-id": eid,
            "element": _spark_type_to_iceberg(dt.elementType, counter),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        counter[0] += 1
        kid = counter[0]
        counter[0] += 1
        vid = counter[0]
        return {
            "type": "map",
            "key-id": kid,
            "key": _spark_type_to_iceberg(dt.keyType, counter),
            "value-id": vid,
            "value": _spark_type_to_iceberg(dt.valueType, counter),
            "value-required": not dt.valueContainsNull,
        }
    if dt in _SPARK_TO_PRIM:
        return _SPARK_TO_PRIM[dt]
    raise ValueError(f"spark type {dt} not supported for iceberg write")


def schema_to_spark(schema_json: dict) -> T.StructType:
    return _iceberg_type_to_spark(
        {"type": "struct", "fields": schema_json["fields"]}
    )


def schema_from_spark(st: T.StructType, schema_id: int = 0) -> dict:
    counter = [0]
    struct = _spark_type_to_iceberg(st, counter)
    return {
        "type": "struct",
        "schema-id": schema_id,
        "fields": struct["fields"],
    }


# ---------------------------------------------------------------------------
# metadata resolution
# ---------------------------------------------------------------------------


def _strip_uri(p: str) -> str:
    return p[len("file://") :] if p.startswith("file://") else p


def current_metadata_path(table_path: str) -> str:
    """metadata/version-hint.text if present (HadoopTables layout), else
    the latest ``*.metadata.json``. "Latest" must treat the two public
    naming schemes differently: HadoopTables ``vN.metadata.json`` needs a
    NUMERIC sort (lexicographically 'v9' > 'v10', so a plain string sort
    silently serves a stale snapshot once N reaches 10 on a table whose
    hint file was lost), while REST/object-store ``00000-<uuid>`` names
    are zero-padded and sort in commit order as strings."""
    meta_dir = os.path.join(table_path, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            v = fh.read().strip()
        return os.path.join(meta_dir, f"v{v}.metadata.json")
    cands = [
        f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")
    ]
    if not cands:
        raise FileNotFoundError(f"no *.metadata.json under {meta_dir}")

    def key(f: str):
        m = re.fullmatch(r"v(\d+)\.metadata\.json", f)
        # numbered versions after (and above) any unnumbered names
        return (1, int(m.group(1)), f) if m else (0, 0, f)

    return os.path.join(meta_dir, max(cands, key=key))


def load_metadata(table_path: str) -> dict:
    with open(current_metadata_path(table_path)) as fh:
        return json.load(fh)


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id") == sid:
                return s
    return meta["schema"]  # v1 single-schema layout


def _select_snapshot(meta: dict, snapshot_id: int | None):
    snaps = meta.get("snapshots") or []
    if snapshot_id is None:
        cur = meta.get("current-snapshot-id")
        if cur in (None, -1):
            return None
        snapshot_id = cur
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise ValueError(f"snapshot {snapshot_id} not in table metadata")


def _get(rec: dict, *names, default=None):
    """First present key — tolerates v1/v2 field renames
    (added_files_count vs added_data_files_count etc.)."""
    for n in names:
        if n in rec:
            return rec[n]
    return default


def data_file_paths(table_path: str, snapshot_id: int | None = None) -> list[str]:
    """Resolve a snapshot to its live data-file paths via the manifest
    list + manifests. Driver-side metadata walk only — at a 10^12-file
    corpus the manifests would be read distributed, but each manifest is
    self-contained, so the loop below parallelizes trivially
    (sc.parallelize(manifest_paths).flatMap(read)); at bench scale the
    file count makes driver-side the faster constant."""
    meta = load_metadata(table_path)
    snap = _select_snapshot(meta, snapshot_id)
    if snap is None:
        return []
    if "manifest-list" in snap:
        _, mans, _ = read_container(_strip_uri(snap["manifest-list"]))
        manifest_paths = []
        for m in mans:
            if _get(m, "content", default=0) != 0:
                raise NotImplementedError(
                    "delete manifests (merge-on-read) are not supported; "
                    "compact the table copy-on-write first"
                )
            manifest_paths.append(_strip_uri(m["manifest_path"]))
    else:  # v1 embedded manifests list
        manifest_paths = [_strip_uri(p) for p in snap["manifests"]]
    paths = []
    for mp in manifest_paths:
        _, entries, fmeta = read_container(mp)
        if fmeta.get("content", b"data") not in (b"data", "data"):
            raise NotImplementedError("delete manifests are not supported")
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            dfile = e["data_file"]
            if _get(dfile, "content", default=0) != 0:
                raise NotImplementedError("delete files are not supported")
            fmt = dfile["file_format"].upper()
            if fmt != "PARQUET":
                raise NotImplementedError(f"data file format {fmt}")
            paths.append(_strip_uri(dfile["file_path"]))
    return paths


def read_table(
    spark: SparkSession, table_path: str, snapshot_id: int | None = None
) -> DataFrame:
    """Iceberg table -> DataFrame (snapshot-pinned, table schema
    enforced). Empty table -> empty DataFrame with the table schema."""
    meta = load_metadata(table_path)
    st = schema_to_spark(_current_schema(meta))
    paths = data_file_paths(table_path, snapshot_id)
    if not paths:
        # Arrow-built, so Spark plans a LocalRelation: collecting it
        # starts no job (a list-built frame is a one-job Python RDD)
        return spark.createDataFrame(to_arrow_schema(st).empty_table(), st)
    return spark.read.schema(st).parquet(*paths)


# ---------------------------------------------------------------------------
# writer (v2)
# ---------------------------------------------------------------------------

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {
            "name": "snapshot_id",
            "type": ["null", "long"],
            "default": None,
            "field-id": 1,
        },
        {
            "name": "sequence_number",
            "type": ["null", "long"],
            "default": None,
            "field-id": 3,
        },
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "default": None,
            "field-id": 4,
        },
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {
                        "name": "file_size_in_bytes",
                        "type": "long",
                        "field-id": 104,
                    },
                ],
            },
        },
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": "int", "field-id": 504},
        {"name": "existing_data_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _list_parquet(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(".")
    )


def write_table(df: DataFrame, table_path: str, mode: str = "append") -> int:
    """DataFrame -> Iceberg v2 table at ``table_path`` (filesystem
    layout: data/ + metadata/ + version-hint.text). ``mode``:
    'create' (table must not exist) or 'append' (creates if absent).
    Returns the new snapshot id. Unpartitioned spec; one manifest per
    commit; commits are atomic at the version-hint rename."""
    exists = os.path.exists(os.path.join(table_path, "metadata"))
    if mode == "create" and exists:
        raise FileExistsError(f"iceberg table exists: {table_path}")
    if mode not in ("create", "append"):
        raise ValueError(f"mode: {mode!r}")
    meta_dir = os.path.join(table_path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)

    if exists:
        prev = load_metadata(table_path)
        version = prev["last-sequence-number"] + 1
        snap_id = (
            max(s["snapshot-id"] for s in prev["snapshots"]) + 1
            if prev.get("snapshots")
            else 1
        )
        schema_json = _current_schema(prev)
        if schema_to_spark(schema_json) != df.schema:
            raise ValueError(
                "append schema differs from table schema "
                f"({schema_to_spark(schema_json)} vs {df.schema})"
            )
        prev_snap = _select_snapshot(prev, None)
        prev_manifests = []
        if prev_snap is not None:
            _, prev_manifests, _ = read_container(
                _strip_uri(prev_snap["manifest-list"])
            )
        table_uuid = prev["table-uuid"]
    else:
        prev = None
        version = 1
        snap_id = 1
        schema_json = schema_from_spark(df.schema)
        prev_manifests = []
        table_uuid = str(uuid.uuid5(uuid.NAMESPACE_URL, table_path))

    # 1. data files: one fresh subdir per commit so the just-written
    # file set is exactly this commit's listing (resume-safe: a crashed
    # commit leaves an orphan dir no snapshot references)
    data_dir = os.path.join(table_path, "data", f"s{snap_id:06d}")
    df.write.mode("overwrite").parquet(data_dir)

    import pyarrow.parquet as pq

    files = _list_parquet(data_dir)
    entries = []
    total_rows = 0
    for p in files:
        n = pq.ParquetFile(p).metadata.num_rows
        total_rows += n
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snap_id,
                "sequence_number": None,  # inherited from the manifest
                "file_sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": p,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": n,
                    "file_size_in_bytes": os.path.getsize(p),
                },
            }
        )

    # 2. manifest
    manifest_path = os.path.join(meta_dir, f"m-{snap_id:06d}.avro")
    write_container(
        manifest_path,
        _MANIFEST_ENTRY_SCHEMA,
        entries,
        metadata={
            "schema": json.dumps(schema_json),
            "partition-spec": "[]",
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "data",
        },
    )

    # 3. manifest list = prior snapshot's manifests + this one
    new_manifest = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": version,
        "min_sequence_number": version,
        "added_snapshot_id": snap_id,
        "added_data_files_count": len(files),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": total_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    carried = [
        {f["name"]: _get(m, f["name"], default=0)
         for f in _MANIFEST_FILE_SCHEMA["fields"]}
        for m in prev_manifests
    ]
    mlist_path = os.path.join(meta_dir, f"snap-{snap_id}.avro")
    write_container(
        mlist_path,
        _MANIFEST_FILE_SCHEMA,
        carried + [new_manifest],
        metadata={"format-version": "2"},
    )

    # 4. vN.metadata.json + version-hint
    now_ms = int(time.time() * 1000)
    snapshot = {
        "snapshot-id": snap_id,
        "sequence-number": version,
        "timestamp-ms": now_ms,
        "manifest-list": mlist_path,
        "summary": {
            "operation": "append",
            "added-data-files": str(len(files)),
            "added-records": str(total_rows),
        },
        "schema-id": schema_json.get("schema-id", 0),
    }
    last_col = max(
        (f["id"] for f in schema_json["fields"]), default=0
    )
    meta = {
        "format-version": 2,
        "table-uuid": table_uuid,
        "location": table_path,
        "last-sequence-number": version,
        "last-updated-ms": now_ms,
        "last-column-id": (
            prev["last-column-id"] if prev else max(last_col, _max_field_id(schema_json))
        ),
        "current-schema-id": schema_json.get("schema-id", 0),
        "schemas": [schema_json],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "schema.name-mapping.default": json.dumps(
                _name_mapping(schema_json)
            )
        },
        "current-snapshot-id": snap_id,
        "snapshots": (prev.get("snapshots", []) if prev else []) + [snapshot],
        "snapshot-log": (prev.get("snapshot-log", []) if prev else [])
        + [{"timestamp-ms": now_ms, "snapshot-id": snap_id}],
        "metadata-log": [],
    }
    mfile = os.path.join(meta_dir, f"v{version}.metadata.json")
    tmp = mfile + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    os.replace(tmp, mfile)
    hint_tmp = os.path.join(meta_dir, "version-hint.text.tmp")
    with open(hint_tmp, "w") as fh:
        fh.write(str(version))
    os.replace(hint_tmp, os.path.join(meta_dir, "version-hint.text"))
    return snap_id


def _max_field_id(t, best: int = 0) -> int:
    if isinstance(t, dict):
        for k, v in t.items():
            if k in ("id", "element-id", "key-id", "value-id", "field-id"):
                best = max(best, v)
            else:
                best = _max_field_id(v, best)
    elif isinstance(t, list):
        for v in t:
            best = _max_field_id(v, best)
    return best


def _name_mapping(schema_json: dict) -> list:
    """Iceberg ``schema.name-mapping.default``: lets id-based readers
    resolve columns in parquet files that lack field-id metadata (ours —
    Spark's parquet writer doesn't stamp Iceberg ids)."""

    def field_entry(f):
        out = {"field-id": f["id"], "names": [f["name"]]}
        if isinstance(f["type"], dict) and f["type"].get("type") == "struct":
            out["fields"] = [field_entry(g) for g in f["type"]["fields"]]
        return out

    return [field_entry(f) for f in schema_json["fields"]]
