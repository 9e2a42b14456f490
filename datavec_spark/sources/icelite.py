"""icelite — a minimal transactional snapshot table format on Parquet.

The sandbox ships no Iceberg runtime jar, so this module provides the
Iceberg *semantics* the CDC engine needs, behind a small API a real Iceberg
catalog could replace 1:1:

- **Atomic commits / snapshot isolation**: every commit writes a new
  immutable metadata JSON to a temp file and hard-links it to
  `metadata/v{N}.json`; the link fails if the name exists (optimistic
  concurrency — a concurrent committer loses and retries), so a version
  file is complete or absent. It then swings `metadata/version-hint.text`
  via os.replace. The hint is only a hint, as in Iceberg's Hadoop
  catalog: readers advance past it while `v{N+1}.json` exists, then load
  that one metadata file → a consistent snapshot.
- **Snapshot summary properties + table properties**: carry the
  exactly-once epoch fence (`cdc.last-epoch`) so a retried foreachBatch
  epoch is a no-op (Iceberg: snapshot summary / table properties).
- **Schema evolution by field id**: columns have stable integer ids;
  rename changes only the display name, widen (int→long, float→double)
  casts old files on read, add fills nulls. Old data files remain valid
  (Iceberg: schema-id per data file + name mapping).
- **Bucket-partitioned copy-on-write MERGE**: every table is hash-bucketed
  on its key columns (at least one), and the bucket is the one unit of
  files, merges and lineage; a merge rewrites only the buckets containing
  changed keys and carries every other data file forward untouched. The
  merge is one Spark query: only the changes are shuffled, by bucket, and
  one Arrow task per bucket reads that bucket's target file(s) with
  pyarrow, resolves last-writer-wins by seq and writes one key-sorted
  file, so the target is never shuffled (Iceberg COW with `bucket(N, key)`
  partitioning rewrites the same files). A table that needs smaller
  rewrite files uses more buckets.
- **One CDC row contract**: a merged table carries two fixed bookkeeping
  columns, `_seq` (last-writer-wins order) and `_deleted` (tombstone). A
  merge's change rows are full-row images in the current schema; a delete
  is a tombstone row that keeps its seq, never a removal, so a late older
  change cannot bring a deleted key back. Changelog reads and compaction
  use the same two columns.
- **Time travel**: `read(snapshot_id=...)` reads any retained snapshot.

Semantics modeled on the Iceberg spec (public) and the needs in
SURVEY.md §7; the DataVec reference's closest analog is the sorted/indexed
MapFile storage (`datavec-hadoop/.../MapFileRecordWriter.java:35`,
`datavec-spark/.../storage/SparkStorageUtils.java:190-364`) which this
supersedes with columnar snapshots.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
import uuid
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, from_arrow_type

# merge_group runs in Python workers, which cannot import this package when
# the driver put it on sys.path itself: ship this module's functions by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# ---------------------------------------------------------------------------
# type registry (icelite type string <-> Arrow type <-> Spark type)
# ---------------------------------------------------------------------------

# the one type table: Spark types are derived from these Arrow types
_ARROW_TYPES: dict[str, pa.DataType] = {
    "boolean": pa.bool_(),
    "int": pa.int32(),
    "long": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "string": pa.string(),
    "binary": pa.binary(),
    "timestamp": pa.timestamp("us", tz="UTC"),
    "date": pa.date32(),
}

# legal widening promotions (Iceberg spec: int→long, float→double)
_WIDEN_OK = {("int", "long"), ("float", "double"), ("int", "double")}


def type_to_arrow(s: str) -> pa.DataType:
    """Arrow type of an icelite type in the files pyarrow writes. Timestamps
    are UTC-adjusted microseconds, which Spark reads back as TimestampType,
    the same as its own INT96 files."""
    if s in _ARROW_TYPES:
        return _ARROW_TYPES[s]
    if s.startswith("array<") and s.endswith(">"):
        return pa.list_(type_to_arrow(s[6:-1]))
    raise ValueError(f"unsupported icelite type: {s}")


def type_to_spark(s: str) -> T.DataType:
    return from_arrow_type(type_to_arrow(s))


def spark_to_type(dt: T.DataType) -> str:
    for name in _ARROW_TYPES:
        if dt == type_to_spark(name):
            return name
    if isinstance(dt, T.ArrayType):
        return f"array<{spark_to_type(dt.elementType)}>"
    raise ValueError(f"unsupported spark type for icelite: {dt}")


def schema_to_struct(fields: list[dict]) -> T.StructType:
    return T.StructType(
        [T.StructField(f["name"], type_to_spark(f["type"]), f.get("nullable", True)) for f in fields]
    )


def schema_to_arrow(fields: list[dict]) -> pa.Schema:
    return pa.schema([(f["name"], type_to_arrow(f["type"])) for f in fields])


def bind_names(fields: list[dict], written: list[dict]) -> list[str | None]:
    """The one field-id binding rule: per current field, the name its id
    was written under, or None if added since. Readers alias that name to
    the current one (rename), cast it (widen) and fill None with nulls (add)."""
    names = {f["id"]: f["name"] for f in written}
    return [names.get(f["id"]) for f in fields]


def is_live() -> F.Column:
    """The one visibility rule: a row is live unless its `_deleted`
    tombstone flag is true; a null flag (e.g. a change row that left the
    column out) is live."""
    return ~F.coalesce(F.col("_deleted"), F.lit(False))


# ---------------------------------------------------------------------------
# table
# ---------------------------------------------------------------------------

BUCKET_COL = "__bucket"


def bucket_expr(keys: list[F.Column], num_buckets: int) -> F.Column:
    """Bucket of a row from its key column expressions — the one place the
    hash formula lives (IceliteTable._bucket_expr applies it to the bound
    key columns for every writer and merge).

    xxhash64 over ALL key columns (not a string-concatenated key — the
    reference's string keys, MapToPairForReducerFunction.java:30-53, are a
    collision + skew hazard this avoids); pmod keeps it non-negative.
    Every table has at least one key column."""
    return F.pmod(F.xxhash64(*keys), F.lit(num_buckets)).cast("int")


# a change row's optional event time in microseconds: merge_cdc tallies and
# drops late rows by it, and never stores it
EVENT_US = "_event_us"

# one row per merged bucket: its manifest entry (the first five fields; path
# null when the bucket wrote no file) and the tallies of its change rows
ENTRY_FIELDS = ["path", "bucket", "schema_id", "record_count", "file_size_in_bytes"]
MERGE_ENTRY = pa.schema([("path", pa.string()), ("bucket", pa.int32()),
                         ("schema_id", pa.int32()), ("record_count", pa.int64()),
                         ("file_size_in_bytes", pa.int64())]
                        + [(n, pa.int64()) for n in (
                            "changes", "min_seq", "max_seq", "null_keys", "null_seq",
                            "late", "dropped", "max_event_us", "winners", "tombstones")])
# the per-bucket tallies a merge snapshot's summary records, one list each
# under "bucket-tallies"
TALLY_COLS = ("bucket", "changes", "min_seq", "max_seq", "late", "dropped")


def data_file_entry(location: str, rel: str, bucket: int, schema_id: int) -> dict:
    """The manifest entry of every data file, whoever wrote it, with
    Iceberg's data_file counts read from its footer and the file system."""
    path = os.path.join(location, rel)
    return {"path": rel, "bucket": bucket, "schema_id": schema_id,
            "record_count": pq.read_metadata(path).num_rows,
            "file_size_in_bytes": os.path.getsize(path)}


def write_bucket_file(rows: pa.Table, location: str, write_id: str, bucket: int,
                      schema_id: int, name: str) -> dict:
    """Write rows to data/<write_id>/__bucket=<bucket>/<name> via a temp
    name and os.replace, so a retried task overwrites its own file; return
    its manifest entry."""
    rel = os.path.join("data", write_id, f"{BUCKET_COL}={bucket}", name)
    path = os.path.join(location, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".{name}.{uuid.uuid4().hex}.tmp")
    pq.write_table(rows, tmp)
    os.replace(tmp, path)
    return data_file_entry(location, rel, bucket, schema_id)


def _group_byte_cap() -> int:
    """Bytes one merge group may hold: its changes plus its target files,
    uncompressed. A group is resolved in memory whole, one group per core
    at a time, and holds about 4x its bytes at the peak (input,
    concatenation, sorted copy, output); RAM / (8 x cores) keeps every
    core's peak within half the host's memory."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return ram // (8 * len(os.sched_getaffinity(0)))


def merge_group(changes: pa.Table, bucket: int, spec: dict) -> dict:
    """Merge one bucket of a copy-on-write table.

    `changes` holds the bucket's change rows, full-row images in the
    current schema, any number of rows per key. The bucket's target files
    (every file listed for it) are read here with pyarrow and bound to the
    current schema by field id with bind_names. Per key the highest `_seq`
    wins and the stored row wins a tie. Among change rows with an equal
    `_seq` a tombstone wins, then the row that sorts first by every other
    column ascending, so any order of the same rows writes the same file;
    list columns are left out of that order (pyarrow cannot sort by them),
    so rows differing only there still tie by arrival. A delete is a
    tombstone (`_deleted` true), an ordinary row that keeps its seq, so an
    older change can never bring the key back.

    Writes one key-sorted file with write_bucket_file, at a path fixed by
    (write id, bucket), and returns its manifest entry with the group's
    tallies: `changes` (change rows in), their `min_seq` and `max_seq`,
    `null_keys` and `null_seq` (rows with a null key column, a null
    `_seq`), `winners` (change rows that won their key) and `tombstones`
    (winners that are tombstones). With an EVENT_US column, `max_event_us`
    is the rows' newest event time and `late` counts the rows older than
    spec["late_cut_us"]; with spec["drop_late"] they are dropped before the
    merge and counted in `dropped`, and a group left with no change row
    writes nothing (path None).
    A group over spec["cap"] bytes raises MemoryError before any target
    file is read.

    `spec` is the plan IceliteTable.merge_cdc builds: location, write_id,
    epoch, cap, num_buckets, keys, fields (current schema), schema_id,
    schemas (id -> fields), files (bucket -> [(path, schema id)]),
    late_cut_us and drop_late."""
    fields, keys = spec["fields"], spec["keys"]
    seq = pc.min_max(changes.column("_seq")).as_py()
    tally = {"changes": changes.num_rows, "min_seq": seq["min"], "max_seq": seq["max"],
             "null_keys": changes.num_rows - changes.select(keys).drop_null().num_rows,
             "null_seq": changes.column("_seq").null_count,
             "late": 0, "dropped": 0, "max_event_us": None, "winners": 0, "tombstones": 0}
    if EVENT_US in changes.column_names:
        ts = changes.column(EVENT_US)
        tally["max_event_us"] = pc.max(ts).as_py()
        if spec.get("late_cut_us") is not None:
            late = pc.fill_null(pc.less(ts, spec["late_cut_us"]), False)
            tally["late"] = pc.sum(late).as_py() or 0
            if spec.get("drop_late"):
                changes = changes.filter(pc.invert(late))
                tally["dropped"] = tally["late"]
    if changes.num_rows == 0:
        return {"path": None, "bucket": bucket, "schema_id": spec["schema_id"],
                "record_count": 0, "file_size_in_bytes": 0, **tally}
    targets = spec["files"].get(bucket, [])
    held = changes.nbytes
    for p, _ in targets:
        md = pq.read_metadata(p)
        held += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    if held > spec["cap"]:
        need = -(-spec["num_buckets"] * held // spec["cap"])
        raise MemoryError(
            f"merge_cdc epoch {spec['epoch']}: bucket {bucket} holds {held} bytes, "
            f"over the per-group cap of {spec['cap']} bytes; "
            f"a table with num_buckets >= {need} would fit")
    schema = schema_to_arrow(fields).append(pa.field("__src", pa.int8()))

    def bind(tbl: pa.Table, names: list[str | None], src: int) -> pa.Table:
        # names from bind_names; src 1 marks stored rows
        n = tbl.num_rows
        cols = [pa.nulls(n, t) if name is None else tbl.column(name).cast(t)
                for name, t in zip(names, schema.types)]
        return pa.Table.from_arrays(cols + [pa.array(np.full(n, src, np.int8))], schema=schema)

    parts = [bind(changes, [f["name"] for f in fields], 0)]
    for p, sid in targets:
        names = bind_names(fields, spec["schemas"][sid])
        with pq.ParquetFile(p, coerce_int96_timestamp_unit="us") as pf:
            tbl = pf.read(columns=[name for name in names if name is not None])
        parts.append(bind(tbl, names, 1))
    # a total order, so any arrival order of the changes writes the same
    # bytes: per key the highest seq, then the stored row, then a tombstone,
    # then the smallest image by every other column
    order = [(k, "ascending") for k in keys] + [("_seq", "descending"), ("__src", "descending")]
    if "_deleted" in schema.names:
        order.append(("_deleted", "descending"))
    order += [(f.name, "ascending") for f in schema
              if f.name not in (*keys, "_seq", "_deleted", "__src") and not pa.types.is_list(f.type)]
    rows = pa.concat_tables(parts).sort_by(order)
    rows = rows.append_column("__row", pa.array(np.arange(rows.num_rows)))
    first = rows.group_by(keys, use_threads=False).aggregate([("__row", "min")])["__row_min"]
    out = rows.take(first.sort())
    won = pc.equal(out.column("__src"), 0)
    tally["winners"] = pc.sum(won).as_py() or 0
    if "_deleted" in out.column_names:
        tomb = pc.and_(won, pc.fill_null(out.column("_deleted"), False))
        tally["tombstones"] = pc.sum(tomb).as_py() or 0
    # a group holds at least one change row, so at least one row wins
    return {**write_bucket_file(out.select([f["name"] for f in fields]), spec["location"],
                                spec["write_id"], bucket, spec["schema_id"], "merge.parquet"),
            **tally}


class CommitConflict(Exception):
    """Another writer committed the same version first."""


class IceliteTable:
    def __init__(self, location: str):
        self.location = location
        self._meta_dir = os.path.join(location, "metadata")
        self._data_dir = os.path.join(location, "data")

    # -- lifecycle -----------------------------------------------------------

    @classmethod
    def create(
        cls,
        location: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 16,
        properties: dict[str, str] | None = None,
    ) -> "IceliteTable":
        """New empty table, hash-bucketed on `key_cols` into `num_buckets`.
        Every table is keyed: `key_cols` must name at least one schema
        column, or ValueError is raised before anything is written.
        The bucket is the rewrite unit: a merge rewrites the files of the
        buckets its changed keys hash into, so copy-on-write amplification
        per changed key is one bucket's size, and a table that needs
        smaller rewrite files uses more buckets. Static by design: bucket
        assignment must be stable across writes, or a merge would miss
        the files that hold a key's older versions."""
        names = schema.fieldNames()
        if not key_cols or not set(key_cols) <= set(names):
            raise ValueError(f"icelite table {location} needs at least one key column "
                             f"from its schema {names}; got key_cols={key_cols!r}")
        t = cls(location)
        os.makedirs(t._meta_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        fields = [
            {"id": i + 1, "name": f.name, "type": spark_to_type(f.dataType), "nullable": f.nullable}
            for i, f in enumerate(schema.fields)
        ]
        key_ids = [names.index(c) + 1 for c in key_cols]
        meta = {
            "format_version": 1,
            "table_uuid": str(uuid.uuid4()),
            "current_schema_id": 0,
            "schemas": [{"schema_id": 0, "fields": fields}],
            "partition_spec": {"key_field_ids": key_ids, "num_buckets": num_buckets},
            "properties": dict(properties or {}),
            "current_snapshot_id": None,
            "snapshots": [],
            "last_field_id": len(fields),
            "last_snapshot_id": 0,
        }
        t._write_metadata(meta, expected_version=0)
        return t

    @classmethod
    def load(cls, location: str) -> "IceliteTable":
        t = cls(location)
        t.metadata()  # raises if absent
        return t

    @staticmethod
    def exists(location: str) -> bool:
        return os.path.exists(os.path.join(location, "metadata", "version-hint.text"))

    # -- metadata ------------------------------------------------------------

    def _version(self) -> int:
        """Current metadata version. version-hint.text is a hint (Iceberg's
        Hadoop catalog): the version advances past it while v{n+1}.json
        exists, so a commit whose hint swing never happened is still read
        and the next commit lands after it, and a hint swung backwards by
        a slow writer is harmless."""
        with open(os.path.join(self._meta_dir, "version-hint.text")) as fh:
            v = int(fh.read().strip())
        while os.path.exists(os.path.join(self._meta_dir, f"v{v + 1}.json")):
            v += 1
        return v

    def metadata(self) -> dict:
        return self._load()[0]

    def _load(self) -> tuple[dict, int]:
        """Atomically consistent (metadata, version) pair: resolve the
        version ONCE and load exactly that v{N}.json. Commit sites must use
        this (not separate metadata()/_version() calls) — a concurrent
        commit landing between the two reads would otherwise let a writer
        publish STALE metadata at the NEWER version, silently dropping the
        other writer's snapshot past the same-version link guard."""
        v = self._version()
        with open(os.path.join(self._meta_dir, f"v{v}.json")) as fh:
            return json.load(fh), v

    def _write_metadata(self, meta: dict, expected_version: int) -> None:
        new_v = expected_version + 1
        staged = os.path.join(self._meta_dir, f".v{new_v}.{uuid.uuid4().hex}.tmp")
        try:
            with open(staged, "w") as fh:
                json.dump(meta, fh)
            try:
                # the link is the optimistic-concurrency commit point: the
                # complete file appears under its version name, or nothing does
                os.link(staged, os.path.join(self._meta_dir, f"v{new_v}.json"))
            except FileExistsError as e:
                raise CommitConflict(f"metadata v{new_v} already exists") from e
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(staged)
        tmp = os.path.join(self._meta_dir, f".hint.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(str(new_v))
        os.replace(tmp, os.path.join(self._meta_dir, "version-hint.text"))

    def schema_struct(self, schema_id: int | None = None) -> T.StructType:
        return schema_to_struct(self._fields(self.metadata(), schema_id))

    def properties(self) -> dict[str, str]:
        return self.metadata()["properties"]

    def current_snapshot(self) -> dict | None:
        return self._current(self.metadata())

    @staticmethod
    def _current(meta: dict) -> dict | None:
        return next((s for s in meta["snapshots"]
                     if s["snapshot_id"] == meta["current_snapshot_id"]), None)

    def snapshots(self) -> list[dict]:
        return self.metadata()["snapshots"]

    def key_cols(self, meta: dict | None = None) -> list[str]:
        meta = meta or self.metadata()
        fields = self._fields(meta)
        by_id = {f["id"]: f["name"] for f in fields}
        return [by_id[i] for i in meta["partition_spec"]["key_field_ids"]]

    def _fields(self, meta: dict, schema_id: int | None = None) -> list[dict]:
        sid = meta["current_schema_id"] if schema_id is None else schema_id
        return next(s["fields"] for s in meta["schemas"] if s["schema_id"] == sid)

    # -- read ----------------------------------------------------------------

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """Current (or time-travel) snapshot as a DataFrame in the current
        schema. Old-schema files are projected by field id: renamed columns
        aliased, widened columns cast, added columns null-filled. Raises
        ValueError on a snapshot id that is unknown (e.g. expired)."""
        meta = self.metadata()
        if snapshot_id is None:
            snap = self._current(meta)
        else:
            snap = next((s for s in meta["snapshots"] if s["snapshot_id"] == snapshot_id), None)
            if snap is None:
                raise ValueError(f"unknown snapshot_id {snapshot_id} (expired?)")
        return self._read_entries(spark, meta, snap["files"] if snap else [])

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental changelog — "what changed since snapshot X" — for
        downstream CDC consumers (the read-side half of an ingest engine:
        audit, cache invalidation, derived-table refresh). Emits UPSERT
        form: one row per key whose visible newest version differs between
        the two snapshots, in the current schema plus `_change_type` ∈
        {'upsert', 'delete'} — upserts carry the new image, deletes the
        last visible old image (Kafka-compacted-topic semantics; an
        update is an upsert, not a delete+insert pair). A row is visible
        when `is_live()`; a table without a `_deleted` column has only
        visible rows.

        Scale path: a key's versions never leave its bucket, so the diff
        is pruned to CANDIDATE BUCKETS — buckets of manifest entries added
        or removed between the snapshots (merges rewrite only touched
        files; rollback removes files). Both sides read only those
        buckets' entries and the diff is ONE full-outer shuffle over them —
        O(touched-bucket bytes), not O(table), per poll. Compaction
        rewrites are content-neutral: their buckets enter the candidate
        set and diff to nothing. Metadata is loaded once, so both sides
        are projected to the same schema.

        from_snapshot_id=None means "initial load": every visible row of
        the target snapshot as an upsert. Schema-only evolution commits no
        snapshot and therefore emits no change rows (a schema change is
        not a row change). A table with no snapshot yet has an empty
        changelog. Raises ValueError on snapshot ids that are unknown
        (e.g. expired)."""
        from functools import reduce as _reduce

        meta = self.metadata()
        snaps = {s["snapshot_id"]: s for s in meta["snapshots"]}
        cols = [f["name"] for f in self._fields(meta)]
        keys = self.key_cols(meta)
        out_struct = T.StructType(
            schema_to_struct(self._fields(meta)).fields
            + [T.StructField("_change_type", T.StringType())]
        )
        if to_snapshot_id is None:
            to_snapshot_id = meta["current_snapshot_id"]
            if to_snapshot_id is None and from_snapshot_id is None:
                # nothing committed yet
                return spark.createDataFrame([], out_struct)
        if to_snapshot_id not in snaps:
            raise ValueError(f"unknown to_snapshot_id {to_snapshot_id} (expired?)")

        def visible(files: list[dict]) -> DataFrame:
            df = self._read_entries(spark, meta, files)
            return df.where(is_live()) if "_deleted" in cols else df

        new_files = snaps[to_snapshot_id]["files"]
        if from_snapshot_id is None:
            return visible(new_files).withColumn("_change_type", F.lit("upsert"))
        if from_snapshot_id not in snaps:
            raise ValueError(f"unknown from_snapshot_id {from_snapshot_id} (expired?)")
        if from_snapshot_id == to_snapshot_id:
            return spark.createDataFrame([], out_struct)

        old_files = snaps[from_snapshot_id]["files"]
        old_paths = {f["path"] for f in old_files}
        new_paths = {f["path"] for f in new_files}
        candidates = ({f["bucket"] for f in new_files if f["path"] not in old_paths}
                      | {f["bucket"] for f in old_files if f["path"] not in new_paths})
        if not candidates:
            return spark.createDataFrame([], out_struct)

        old_df = visible([f for f in old_files if f["bucket"] in candidates]) \
            .withColumn("_o_present", F.lit(True))
        new_df = visible([f for f in new_files if f["bucket"] in candidates]) \
            .withColumn("_n_present", F.lit(True))
        non_keys = [c for c in cols if c not in keys]
        j = new_df.alias("n").join(old_df.alias("o"), on=keys, how="full_outer")
        o_present = F.col("o._o_present").isNotNull()
        n_present = F.col("n._n_present").isNotNull()
        same = _reduce(
            lambda a, b: a & b,
            [F.col(f"n.{c}").eqNullSafe(F.col(f"o.{c}")) for c in non_keys],
            F.lit(True),
        )
        ct = (
            F.when(n_present & (~o_present | ~same), F.lit("upsert"))
            .when(o_present & ~n_present, F.lit("delete"))
        )
        # single pass: change type + conditional image in one projection —
        # no union of two filters re-evaluating the join
        img = [
            F.when(ct == F.lit("delete"), F.col(f"o.{c}"))
            .otherwise(F.col(f"n.{c}")).alias(c)
            for c in non_keys
        ]
        return (
            j.withColumn("_change_type", ct)
            .where(F.col("_change_type").isNotNull())
            .select(*keys, *img, "_change_type")
            .select(*[f.name for f in out_struct.fields])
        )

    def _refuse_delta(self, files: list[dict]) -> None:
        """Reads and merges refuse merge-on-read delta files (an older
        release resolved each key's newest version at read time): a plain
        scan would return several versions of a key."""
        delta = next((f for f in files if f.get("delta")), None)
        if delta is not None:
            raise ValueError(
                f"icelite table {self.location} holds merge-on-read delta file "
                f"{delta['path']}; this release reads copy-on-write files only. "
                f"compact() the table with the previous release first")

    def _read_entries(self, spark: SparkSession, meta: dict, files: list[dict]) -> DataFrame:
        """Read specific manifest entries projected to the current schema
        (empty entry list -> empty DataFrame). Files are grouped by the
        schema they were written with; each group is projected by field id
        (rename aliased, widen cast, added null-filled), then unioned.
        Each group is read with the schema its files were written with, so
        building the DataFrame runs no footer-inference job, and a column
        is cast only when its type differs."""
        self._refuse_delta(files)
        cur_fields = self._fields(meta)
        if not files:
            return spark.createDataFrame([], schema_to_struct(cur_fields))
        by_sid: dict[int, list[str]] = {}
        for f in files:
            by_sid.setdefault(f["schema_id"], []).append(os.path.join(self.location, f["path"]))
        parts: list[DataFrame] = []
        for sid, paths in by_sid.items():
            written = self._fields(meta, sid)
            struct, cols = schema_to_struct(written), []
            for cf, name in zip(cur_fields, bind_names(cur_fields, written)):
                t = type_to_spark(cf["type"])
                c = F.lit(None).cast(t) if name is None else F.col(name)
                if name is not None and struct[name].dataType != t:
                    c = c.cast(t)
                cols.append(c.alias(cf["name"]))
            parts.append(spark.read.schema(struct).parquet(*paths).select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- write ---------------------------------------------------------------

    def _bucket_expr(self, meta: dict) -> F.Column:
        return bucket_expr([F.col(k) for k in self.key_cols(meta)],
                           meta["partition_spec"]["num_buckets"])

    @contextlib.contextmanager
    def _staged(self):
        """A fresh write id, naming the directory data/<write_id>/ that holds
        one commit's new files. If the block raises before its commit point
        (a failed write job, or a commit that loses the version CAS) the
        directory is removed: no snapshot lists its files, so
        expire_snapshots would never collect them. A raise after the
        metadata link (the hint swing) keeps them: the commit lists them."""
        write_id = uuid.uuid4().hex
        try:
            yield write_id
        except BaseException:
            if not any(f["path"].split(os.sep)[1] == write_id
                       for s in self.snapshots() for f in s["files"]):
                shutil.rmtree(os.path.join(self._data_dir, write_id), ignore_errors=True)
            raise

    def _write_data_files(self, df: DataFrame, meta: dict, write_id: str) -> list[dict]:
        """Write df, conformed to the current schema, with Spark's writer
        (one job) as one file per bucket under data/<write_id>/__bucket=<b>/;
        return their manifest entries. Bulk writes stay on Spark's writer: a
        pyarrow write in Arrow tasks would add Python-worker start to them."""
        out_dir = os.path.join(self._data_dir, write_id)
        (self._conform(df, meta).withColumn(BUCKET_COL, self._bucket_expr(meta))
         .repartition(meta["partition_spec"]["num_buckets"], BUCKET_COL)
         .write.partitionBy(BUCKET_COL).parquet(out_dir))
        return [data_file_entry(self.location, os.path.join("data", write_id, d, fn),
                                int(d.split("=", 1)[1]), meta["current_schema_id"])
                for d in sorted(os.listdir(out_dir)) if d.startswith(f"{BUCKET_COL}=")
                for fn in sorted(os.listdir(os.path.join(out_dir, d))) if fn.endswith(".parquet")]

    def _commit_snapshot(
        self,
        meta: dict,
        version: int,
        files: list[dict],
        summary: dict[str, Any],
        properties_update: dict[str, str] | None = None,
    ) -> int:
        snap_id = meta["last_snapshot_id"] + 1
        snap = {
            "snapshot_id": snap_id,
            "parent_id": meta["current_snapshot_id"],
            "timestamp_ms": int(time.time() * 1000),
            "schema_id": meta["current_schema_id"],
            "summary": summary,
            "files": files,
        }
        # a new dict: the loaded one stays what the commit was based on
        self._write_metadata({**meta, "snapshots": [*meta["snapshots"], snap],
                              "current_snapshot_id": snap_id, "last_snapshot_id": snap_id,
                              "properties": {**meta["properties"], **(properties_update or {})}},
                             expected_version=version)
        return snap_id

    def _commit_files(self, operation: str, write, summary: dict[str, Any] | None = None,
                      properties_update: dict[str, str] | None = None) -> int:
        """The commit of append, append_rows_local, overwrite and compact: one
        load, then `write(meta, current files, write_id)` stages the new files
        and returns the snapshot's file list, which is committed."""
        meta, version = self._load()
        cur = self._current(meta)
        with self._staged() as write_id:
            files = write(meta, cur["files"] if cur else [], write_id)
            return self._commit_snapshot(meta, version, files,
                                         {"operation": operation, **(summary or {})},
                                         properties_update)

    def append(
        self,
        df: DataFrame,
        summary: dict[str, Any] | None = None,
        properties_update: dict[str, str] | None = None,
    ) -> int:
        return self._commit_files(
            "append", lambda meta, cur, wid: cur + self._write_data_files(df, meta, wid),
            summary, properties_update)

    def append_rows_local(
        self,
        rows: list[dict],
        summary: dict[str, Any] | None = None,
        properties_update: dict[str, str] | None = None,
    ) -> int:
        """Driver-side append of a tiny row set (e.g. per-epoch lineage,
        ≤num_buckets rows) via pyarrow — no Spark job, same atomic commit.
        Only valid for unbucketed tables (num_buckets == 1): every row is
        written to bucket 0, the only bucket later merges read it from."""
        def write(meta, cur, write_id):
            n = meta["partition_spec"]["num_buckets"]
            if n != 1:
                raise ValueError(
                    f"append_rows_local writes every row to bucket 0, so it needs an "
                    f"unbucketed table (num_buckets=1); icelite table {self.location} "
                    f"has num_buckets={n}")
            tbl = pa.Table.from_pylist(rows, schema=schema_to_arrow(self._fields(meta)))
            return cur + [write_bucket_file(tbl, self.location, write_id, 0,
                                            meta["current_schema_id"], "local.parquet")]

        return self._commit_files("append", write, summary, properties_update)

    def overwrite(self, df: DataFrame, summary: dict[str, Any] | None = None) -> int:
        return self._commit_files(
            "overwrite", lambda meta, _, wid: self._write_data_files(df, meta, wid), summary)

    def _conform(self, df: DataFrame, meta: dict, keep: tuple[str, ...] = ()) -> DataFrame:
        """df as full rows of the current schema: columns cast to their
        types, absent ones (e.g. just-added columns) null; the `keep`
        columns follow as they are."""
        return df.select(
            *[(F.col(f["name"]) if f["name"] in df.columns else F.lit(None))
              .cast(type_to_spark(f["type"])).alias(f["name"]) for f in self._fields(meta)],
            *keep)

    # -- CDC merge (epoch-fenced, bucket copy-on-write) -----------------------

    def last_epoch(self) -> int:
        return int(self.properties().get("cdc.last-epoch", "-1"))

    def merge_cdc(
        self,
        spark: SparkSession,
        changes: DataFrame,
        epoch: int | None = None,
        late_cut_us: int | None = None,
        drop_late: bool = False,
        before_commit=None,
    ) -> dict:
        """Apply change rows with last-writer-wins by `_seq`; the stored row
        wins a tie. Change rows are full-row images in the current schema,
        any number per key; current-schema columns they lack (e.g.
        just-added ones) are null. A delete is a tombstone row
        (`_deleted` true) that keeps its seq; nothing is ever removed.
        Raises ValueError, before any Spark job, when the table has no `_seq`
        column or a change column is neither in the current schema nor
        EVENT_US. Copy-on-write at bucket granularity: only the files of
        buckets holding changed keys are rewritten; every other file carries
        forward untouched.

        One Spark query: only the changes are shuffled, by bucket, into
        min(default parallelism, num_buckets) tasks; merge_group replaces
        each bucket's files with one and returns the bucket's tallies with
        its manifest entry. The tasks' output is the touched set.

        Change rows may carry EVENT_US, their event time in microseconds,
        which is tallied and never stored: rows older than `late_cut_us`
        are counted late per bucket, and dropped when `drop_late` is set.
        The cut travels in the tasks' plan, not the query's, so the query
        compiles to the same code whatever the cut.

        Before the commit, the tallies decide it. A change row with a null
        key column or a null `_seq` raises ValueError naming the epoch and
        both counts. Then `before_commit(buckets)`, if given, sees one
        tally dict per bucket and returns the commit's extra
        {"summary": ..., "properties": ...}, or None to commit nothing. A
        refusal, a None or a raise removes the files the tasks wrote.

        Exactly-once: with `epoch`, the merge is fenced — if
        epoch <= properties['cdc.last-epoch'] the call is a no-op (the
        retried foreachBatch case), and the property advances atomically
        with the snapshot commit. The snapshot summary records the rows and
        bytes written (`added-records`, `added-files-size`), the change rows
        that won their key (`winners`), the tombstones among them
        (`tombstones`), `merge-ms`, and `bucket-tallies`: the buckets'
        tallies as one list per TALLY_COLS field. A merge whose every change
        was dropped late writes no file and commits the parent's file list
        with its tallies.

        Returns {"applied": bool, "snapshot_id": int|None, "buckets": the
        tallies} ("buckets" is absent when the epoch fence made it a no-op).
        """
        t0 = time.perf_counter()
        meta, version = self._load()
        if epoch is not None and epoch <= int(meta["properties"].get("cdc.last-epoch", "-1")):
            return {"applied": False, "snapshot_id": None, "reason": "epoch-fenced"}
        keys = self.key_cols(meta)
        fields = self._fields(meta)
        names = [f["name"] for f in fields]
        if "_seq" not in names:
            raise ValueError(f"merge_cdc needs a _seq column; icelite table {self.location} "
                             f"has none")
        unknown = [c for c in changes.columns if c not in names and c != EVENT_US]
        if unknown:
            raise ValueError(f"merge_cdc change columns {unknown} are not in the current "
                             f"schema of icelite table {self.location}: {names}")
        cur = self._current(meta)
        cur_files = cur["files"] if cur else []
        self._refuse_delta(cur_files)
        n = meta["partition_spec"]["num_buckets"]
        # a bucket's target is every file listed for it (an older release
        # split buckets into several slot files)
        by_bucket: dict[int, list[tuple[str, int]]] = {}
        for f in cur_files:
            by_bucket.setdefault(f["bucket"], []).append(
                (os.path.join(self.location, f["path"]), f["schema_id"]))
        spec = {
            "location": self.location, "epoch": epoch, "cap": _group_byte_cap(),
            "num_buckets": n, "keys": keys, "fields": fields,
            "schema_id": meta["current_schema_id"],
            "schemas": {s["schema_id"]: s["fields"] for s in meta["schemas"]},
            "files": by_bucket, "late_cut_us": late_cut_us, "drop_late": drop_late,
        }

        def kernel(key, tbl):
            entry = merge_group(tbl, key[0]["bucket"].as_py(), spec)
            return pa.Table.from_pylist([entry], schema=MERGE_ENTRY)

        # Tasks are placed by Spark's Murmur3 hash of the group key, and a
        # struct hashes field by field, so struct(bucket, 0) is placed as
        # the pair (bucket, 0): 16 buckets spread 3/4/4/5 over 4 tasks and
        # 4 buckets 1/1/1/1, against 3/3/4/6 and 0/0/1/3 for the bare int
        # bucket. The busiest task sets the merge's time.
        group = F.struct(self._bucket_expr(meta).alias("bucket"), F.lit(0).alias("salt"))
        k = max(1, min(spark.sparkContext.defaultParallelism, n))
        with self._staged() as write_id:
            spec["write_id"] = write_id
            out = (self._conform(changes, meta, (EVENT_US,) if EVENT_US in changes.columns else ())
                   .withColumn(BUCKET_COL, group)
                   .repartition(k, BUCKET_COL)
                   .groupBy(BUCKET_COL)
                   .applyInArrow(kernel, from_arrow_schema(MERGE_ENTRY))
                   .collect())
            buckets = [r.asDict() for r in sorted(out, key=lambda r: r["bucket"])]
            null_keys = sum(b["null_keys"] for b in buckets)
            null_seq = sum(b["null_seq"] for b in buckets)
            if null_keys or null_seq:
                raise ValueError(
                    f"merge_cdc epoch {epoch}: {null_keys} change rows have a null key "
                    f"column {keys} and {null_seq} a null _seq; icelite table "
                    f"{self.location} committed nothing")
            extra = before_commit(buckets) if before_commit else {}
            if extra is None:
                shutil.rmtree(os.path.join(self._data_dir, write_id), ignore_errors=True)
                return {"applied": False, "snapshot_id": None, "reason": "declined",
                        "buckets": buckets}
            new_files = [{f: b[f] for f in ENTRY_FIELDS} for b in buckets if b["path"] is not None]
            touched = {f["bucket"] for f in new_files}
            untouched = [f for f in cur_files if f["bucket"] not in touched]
            props = dict(extra.get("properties") or {})
            if epoch is not None:
                props["cdc.last-epoch"] = str(epoch)
            snap_id = self._commit_snapshot(
                meta,
                version,
                untouched + new_files,
                {"operation": "merge", "touched-buckets": len(touched),
                 "rewritten-files": len(cur_files) - len(untouched),
                 "carried-files": len(untouched),
                 "added-records": sum(f["record_count"] for f in new_files),
                 "added-files-size": sum(f["file_size_in_bytes"] for f in new_files),
                 "winners": sum(b["winners"] for b in buckets),
                 "tombstones": sum(b["tombstones"] for b in buckets),
                 "merge-ms": int((time.perf_counter() - t0) * 1000),
                 "bucket-tallies": {c: [b[c] for b in buckets] for c in TALLY_COLS},
                 **(extra.get("summary") or {})},
                properties_update=props or None,
            )
        return {"applied": True, "snapshot_id": snap_id, "buckets": buckets}

    # -- schema evolution ------------------------------------------------------

    def _evolve(self, mutate, properties_update: dict[str, str] | None = None) -> int:
        meta, version = self._load()
        fields = [dict(f) for f in self._fields(meta)]
        fields = mutate(meta, fields)
        # allocate past the HIGHEST schema id ever used, not current+1:
        # rollback_to() legitimately sets current_schema_id back to an older
        # id, and current+1 would then collide with an existing schema —
        # _fields resolves the first match, silently shadowing the new schema.
        new_sid = max(s["schema_id"] for s in meta["schemas"]) + 1
        meta["schemas"].append({"schema_id": new_sid, "fields": fields})
        meta["current_schema_id"] = new_sid
        if properties_update:
            meta["properties"].update(properties_update)
        self._write_metadata(meta, expected_version=version)
        return new_sid

    def add_column(self, name: str, type_str: str, properties_update: dict[str, str] | None = None) -> int:
        type_to_spark(type_str)  # validate

        def mutate(meta, fields):
            if any(f["name"] == name for f in fields):
                raise ValueError(f"column exists: {name}")
            meta["last_field_id"] += 1
            return fields + [{"id": meta["last_field_id"], "name": name, "type": type_str, "nullable": True}]

        return self._evolve(mutate, properties_update)

    def rename_column(self, name: str, new_name: str, properties_update: dict[str, str] | None = None) -> int:
        def mutate(meta, fields):
            hit = [f for f in fields if f["name"] == name]
            if not hit:
                raise ValueError(f"no such column: {name}")
            hit[0]["name"] = new_name
            return fields

        return self._evolve(mutate, properties_update)

    def widen_column(self, name: str, new_type: str, properties_update: dict[str, str] | None = None) -> int:
        def mutate(meta, fields):
            hit = [f for f in fields if f["name"] == name]
            if not hit:
                raise ValueError(f"no such column: {name}")
            if hit[0]["id"] in meta["partition_spec"]["key_field_ids"]:
                # ENFORCED, not just documented (round-5 advice): bucket
                # assignment hashes key values with their CURRENT types, and
                # xxhash64(int) != xxhash64(long) for the same value — a
                # widened key would silently re-bucket rows away from the
                # stale files that still hold their old versions (duplicate
                # keys, no error). Renames are safe (values unchanged);
                # widening a key requires a full table rewrite, which this
                # format does not implement.
                raise ValueError(
                    f"cannot widen partition-key column {name!r}: the bucket "
                    "hash is type-sensitive and existing files would keep "
                    "rows in stale buckets")
            if (hit[0]["type"], new_type) not in _WIDEN_OK:
                raise ValueError(f"illegal widen {hit[0]['type']} -> {new_type}")
            hit[0]["type"] = new_type
            return fields

        return self._evolve(mutate, properties_update)

    # -- maintenance -----------------------------------------------------------

    def compact(self, spark: SparkSession, drop_tombstones_below_seq: int | None = None) -> int:
        """Rewrite the table's current snapshot: coalesce each bucket's file
        set to one file and physically drop tombstones (rows not
        `is_live()`) whose `_seq` is below the given horizon (safe once
        the horizon is older than any event the stream can still deliver —
        i.e. below the watermark's seq frontier); a table without
        `_deleted` drops nothing.
        The Iceberg analog is rewrite_data_files + a delete-cleanup pass.
        At 10^10 events this is the job that keeps merge target reads
        proportional to live data rather than to delete history. Merges do
        not need it first: a merge consumes every file of each bucket it
        touches (several after appends, or from an older release that split
        buckets into slot files) and writes one."""
        def write(meta, cur, write_id):
            df = self._read_entries(spark, meta, cur)
            if drop_tombstones_below_seq is not None and "_deleted" in df.columns:
                df = df.where(is_live() | (F.col("_seq") >= drop_tombstones_below_seq))
            return self._write_data_files(df, meta, write_id)

        return self._commit_files("compact", write,
                                  {"tombstone-horizon": drop_tombstones_below_seq})

    def rollback_to(self, snapshot_id: int) -> int:
        """Make a retained older snapshot current again (Iceberg:
        rollback_to_snapshot). Implemented as a NEW snapshot commit whose
        file list and schema are the target's — history is preserved, time
        travel still reaches the rolled-back-over snapshots, and a
        concurrent commit conflicts normally via the version CAS."""
        meta, version = self._load()
        target = next((s for s in meta["snapshots"] if s["snapshot_id"] == snapshot_id), None)
        if target is None:
            raise ValueError(f"snapshot {snapshot_id} not found (expired?)")
        # reads resolve columns via the schema id carried by the snapshot
        meta["current_schema_id"] = target["schema_id"]
        return self._commit_snapshot(meta, version, list(target["files"]),
                                     {"operation": "rollback", "rollback-to": snapshot_id})

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Drop old snapshots' metadata entries and garbage-collect data files
        referenced only by them (Iceberg: expire_snapshots), with the
        `.<name>.crc` checksum Spark's writer puts beside each file. A
        write-id directory none of whose files is still listed goes whole,
        Spark's `_SUCCESS` markers included. keep_last must be at least 1:
        the current snapshot is always kept."""
        if keep_last < 1:
            raise ValueError(f"expire_snapshots(keep_last={keep_last}): keep_last must be >= 1")
        meta, version = self._load()
        snaps = meta["snapshots"]
        if len(snaps) <= keep_last:
            return 0
        keep = snaps[-keep_last:]
        live = {f["path"] for s in keep for f in s["files"]}
        dead = {f["path"] for s in snaps[:-keep_last] for f in s["files"]} - live
        for rel in dead:
            d, name = os.path.split(os.path.join(self.location, rel))
            for p in (os.path.join(d, name), os.path.join(d, f".{name}.crc")):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(p)
            with contextlib.suppress(OSError):
                os.rmdir(d)  # the bucket directory, once empty
        # paths are data/<write_id>/...
        for write_id in {rel.split(os.sep)[1] for rel in dead} - {
                rel.split(os.sep)[1] for rel in live}:
            shutil.rmtree(os.path.join(self._data_dir, write_id), ignore_errors=True)
        meta["snapshots"] = keep
        self._write_metadata(meta, expected_version=version)
        return len(dead)

    def drop(self) -> None:
        shutil.rmtree(self.location, ignore_errors=True)
