"""icelite — a minimal transactional snapshot table format on Parquet.

The sandbox ships no Iceberg runtime jar, so this module provides the
Iceberg *semantics* the CDC engine needs, behind a small API a real Iceberg
catalog could replace 1:1:

- **Atomic commits / snapshot isolation**: every commit writes a new
  immutable metadata JSON `metadata/v{N}.json` created with O_EXCL
  (optimistic concurrency — a concurrent committer loses and retries) and
  then atomically swings `metadata/version-hint.text` via os.replace.
  Readers resolve the hint to one metadata file → a consistent snapshot.
- **Snapshot summary properties + table properties**: carry the
  exactly-once epoch fence (`cdc.last-epoch`) so a retried foreachBatch
  epoch is a no-op (Iceberg: snapshot summary / table properties).
- **Schema evolution by field id**: columns have stable integer ids;
  rename changes only the display name, widen (int→long, float→double)
  casts old files on read, add fills nulls. Old data files remain valid
  (Iceberg: schema-id per data file + name mapping).
- **Bucket-partitioned copy-on-write MERGE**: the table is hash-bucketed
  on its key columns; a merge rewrites only the buckets containing
  changed keys and carries every other data file forward untouched.
  At 100 TB this is the difference between rewriting the world per batch
  and rewriting ~(touched buckets / total buckets) of it (Iceberg COW with
  `bucket(N, key)` partitioning behaves the same way).
- **Time travel**: `read(snapshot_id=...)` reads any retained snapshot.

Semantics modeled on the Iceberg spec (public) and the needs in
SURVEY.md §7; the DataVec reference's closest analog is the sorted/indexed
MapFile storage (`datavec-hadoop/.../MapFileRecordWriter.java:35`,
`datavec-spark/.../storage/SparkStorageUtils.java:190-364`) which this
supersedes with columnar snapshots.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# type registry (icelite type string <-> Spark type)
# ---------------------------------------------------------------------------

_PRIMITIVES: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
}

# legal widening promotions (Iceberg spec: int→long, float→double)
_WIDEN_OK = {("int", "long"), ("float", "double"), ("int", "double")}


def type_to_spark(s: str) -> T.DataType:
    if s in _PRIMITIVES:
        return _PRIMITIVES[s]
    if s.startswith("array<") and s.endswith(">"):
        return T.ArrayType(type_to_spark(s[6:-1]))
    raise ValueError(f"unsupported icelite type: {s}")


def spark_to_type(dt: T.DataType) -> str:
    for name, t in _PRIMITIVES.items():
        if dt == t:
            return name
    if isinstance(dt, T.ArrayType):
        return f"array<{spark_to_type(dt.elementType)}>"
    raise ValueError(f"unsupported spark type for icelite: {dt}")


def schema_to_struct(fields: list[dict]) -> T.StructType:
    return T.StructType(
        [T.StructField(f["name"], type_to_spark(f["type"]), f.get("nullable", True)) for f in fields]
    )


# ---------------------------------------------------------------------------
# table
# ---------------------------------------------------------------------------

BUCKET_COL = "__bucket"
SLOT_COL = "__slot"


def bucket_slot_exprs(keys: list[F.Column], num_buckets: int,
                      sub_splits: int) -> tuple[F.Column, F.Column]:
    """(bucket, slot) of a row from its key column expressions — the one
    place the hash formulas live. Writers (_bucket_expr/_slot_expr over the
    bound columns) and the CDC stats pass (over raw event fields) must agree
    value for value, because the stats pass hands its (bucket, slot) pairs
    to merge_cdc as the pruning set.

    The bucket is xxhash64 over ALL key columns (not a string-concatenated
    key — the reference's string keys, MapToPairForReducerFunction.java:30-53,
    are a collision + skew hazard this avoids); pmod keeps it non-negative.
    The slot is a second hash, independent of the bucket hash (leading
    literal salt), so slots subdivide each bucket's key population
    uniformly. An unsplit table (sub_splits=1) has the single slot lit(0):
    no second hash per row."""
    if not keys:
        return F.lit(0), F.lit(0)
    bucket = F.pmod(F.xxhash64(*keys), F.lit(num_buckets)).cast("int")
    if sub_splits <= 1:
        return bucket, F.lit(0)
    return bucket, F.pmod(F.xxhash64(F.lit(1), *keys), F.lit(sub_splits)).cast("int")


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
        key_cols: list[str] | None = None,
        num_buckets: int = 16,
        properties: dict[str, str] | None = None,
        sub_splits: int = 1,
    ) -> "IceliteTable":
        """sub_splits > 1 splits every bucket's data into that many FILES,
        by a second, independent hash of the key (deterministic slots). A
        merge then rewrites only the slot files whose hash space the
        changed keys actually occupy — copy-on-write amplification drops
        from (bucket size) to (bucket size / sub_splits) per changed key.
        At 100 TB, num_buckets fixes shuffle/task parallelism while
        num_buckets x sub_splits fixes the rewrite unit and target file
        size. Static by design — slot assignment must be
        stable across batches or pruning would miss files (the same
        reason bucket counts are fixed at creation)."""
        t = cls(location)
        os.makedirs(t._meta_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        fields = [
            {"id": i + 1, "name": f.name, "type": spark_to_type(f.dataType), "nullable": f.nullable}
            for i, f in enumerate(schema.fields)
        ]
        key_cols = key_cols or []
        key_ids = [fields[[f["name"] for f in fields].index(c)]["id"] for c in key_cols]
        meta = {
            "format_version": 1,
            "table_uuid": str(uuid.uuid4()),
            "current_schema_id": 0,
            "schemas": [{"schema_id": 0, "fields": fields}],
            "partition_spec": {"key_field_ids": key_ids, "num_buckets": num_buckets,
                               "sub_splits": int(sub_splits)},
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
        with open(os.path.join(self._meta_dir, "version-hint.text")) as fh:
            return int(fh.read().strip())

    def metadata(self) -> dict:
        return self._load()[0]

    def _load(self) -> tuple[dict, int]:
        """Atomically consistent (metadata, version) pair: read the version
        hint ONCE and load exactly that v{N}.json. Commit sites must use
        this (not separate metadata()/_version() calls) — a concurrent
        commit landing between the two reads would otherwise let a writer
        publish STALE metadata at the NEWER version, silently dropping the
        other writer's snapshot past the O_EXCL same-version guard."""
        v = self._version()
        with open(os.path.join(self._meta_dir, f"v{v}.json")) as fh:
            return json.load(fh), v

    def _write_metadata(self, meta: dict, expected_version: int) -> None:
        new_v = expected_version + 1
        path = os.path.join(self._meta_dir, f"v{new_v}.json")
        try:
            # O_EXCL create = the optimistic-concurrency commit point
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflict(f"metadata v{new_v} already exists") from e
        with os.fdopen(fd, "w") as fh:
            json.dump(meta, fh)
        tmp = os.path.join(self._meta_dir, f".hint.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(str(new_v))
        os.replace(tmp, os.path.join(self._meta_dir, "version-hint.text"))

    def schema_struct(self, schema_id: int | None = None) -> T.StructType:
        meta = self.metadata()
        sid = meta["current_schema_id"] if schema_id is None else schema_id
        fields = next(s["fields"] for s in meta["schemas"] if s["schema_id"] == sid)
        return schema_to_struct(fields)

    def properties(self) -> dict[str, str]:
        return self.metadata()["properties"]

    def current_snapshot(self) -> dict | None:
        meta = self.metadata()
        if meta["current_snapshot_id"] is None:
            return None
        return next(s for s in meta["snapshots"] if s["snapshot_id"] == meta["current_snapshot_id"])

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

    @staticmethod
    def _select_files(files: list[dict], bucket_slots) -> tuple[list[dict], list[dict]]:
        """Partition manifest entries into (selected, rest) by a set of
        touched (bucket, slot) pairs. An entry with no slot (a legacy file
        written before every table carried slots, or an append_rows_local
        file) covers its bucket's whole hash space, so it matches whenever
        its bucket is touched at all."""
        pairs = set(bucket_slots)
        buckets = {b for b, _ in pairs}
        sel, rest = [], []
        for f in files:
            hit = (f["bucket"] in buckets
                   if f.get("slot") is None
                   else (f["bucket"], f["slot"]) in pairs)
            (sel if hit else rest).append(f)
        return sel, rest

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        buckets: list[int] | None = None,
        bucket_slots=None,
    ) -> DataFrame:
        """Current (or time-travel) snapshot as a DataFrame in the current
        schema. Old-schema files are projected by field id: renamed columns
        aliased, widened columns cast, added columns null-filled. With
        `buckets`, only data files of those buckets are read; with
        `bucket_slots` (a collection of (bucket, slot) pairs), only the
        matching slot FILES within those buckets (file-level pruning at
        the manifest — the scale path for merges)."""
        meta = self.metadata()
        if snapshot_id is None:
            snap = self.current_snapshot()
        else:
            snap = next(s for s in meta["snapshots"] if s["snapshot_id"] == snapshot_id)
        cur_fields = self._fields(meta)
        cur_struct = schema_to_struct(cur_fields)
        if snap is None or not snap["files"]:
            return spark.createDataFrame([], cur_struct)

        files = snap["files"]
        if bucket_slots is not None:
            files, _ = self._select_files(files, bucket_slots)
        elif buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        if not files:
            return spark.createDataFrame([], cur_struct)
        return self._read_entries(spark, meta, files)

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        change_col: str = "_change_type",
        deleted_col: str = "_deleted",
    ) -> DataFrame:
        """Incremental changelog — "what changed since snapshot X" — for
        downstream CDC consumers (the read-side half of an ingest engine:
        audit, cache invalidation, derived-table refresh). Emits UPSERT
        form: one row per key whose visible newest version differs between
        the two snapshots, in the current schema plus `change_col` ∈
        {'upsert', 'delete'} — upserts carry the new image, deletes the
        last visible old image (Kafka-compacted-topic semantics; an
        update is an upsert, not a delete+insert pair).

        Scale path: a key's versions never leave its bucket, so the diff
        is pruned to CANDIDATE BUCKETS — buckets of manifest entries added
        or removed between the snapshots (merges rewrite only touched
        files; rollback removes files). Both snapshot reads scan only those
        buckets and the diff is ONE full-outer shuffle over them —
        O(touched-bucket bytes), not O(table), per poll. Compaction
        rewrites are content-neutral: their buckets enter the candidate
        set and diff to nothing.

        from_snapshot_id=None means "initial load": every visible row of
        the target snapshot as an upsert. Schema-only evolution commits no
        snapshot and therefore emits no change rows (a schema change is
        not a row change). Raises ValueError on snapshot ids that are
        unknown (e.g. expired)."""
        from functools import reduce as _reduce

        meta = self.metadata()
        snaps = {s["snapshot_id"]: s for s in meta["snapshots"]}
        if to_snapshot_id is None:
            to_snapshot_id = meta["current_snapshot_id"]
        if to_snapshot_id not in snaps:
            raise ValueError(f"unknown to_snapshot_id {to_snapshot_id} (expired?)")
        cols = [f["name"] for f in self._fields(meta)]
        keys = self.key_cols(meta)
        out_struct = T.StructType(
            schema_to_struct(self._fields(meta)).fields
            + [T.StructField(change_col, T.StringType())]
        )

        def visible(df: DataFrame) -> DataFrame:
            if deleted_col in cols:
                return df.where(~F.coalesce(F.col(deleted_col), F.lit(False)))
            return df

        if from_snapshot_id is None:
            return visible(self.read(spark, snapshot_id=to_snapshot_id)) \
                .withColumn(change_col, F.lit("upsert"))
        if from_snapshot_id not in snaps:
            raise ValueError(f"unknown from_snapshot_id {from_snapshot_id} (expired?)")
        if from_snapshot_id == to_snapshot_id:
            return spark.createDataFrame([], out_struct)

        old_files = snaps[from_snapshot_id]["files"]
        new_files = snaps[to_snapshot_id]["files"]
        old_paths = {f["path"] for f in old_files}
        new_paths = {f["path"] for f in new_files}
        candidates = sorted(
            {f["bucket"] for f in new_files if f["path"] not in old_paths}
            | {f["bucket"] for f in old_files if f["path"] not in new_paths}
        )
        if not candidates:
            return spark.createDataFrame([], out_struct)

        old_df = visible(self.read(spark, snapshot_id=from_snapshot_id,
                                   buckets=candidates)) \
            .withColumn("_o_present", F.lit(True))
        new_df = visible(self.read(spark, snapshot_id=to_snapshot_id,
                                   buckets=candidates)) \
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
            j.withColumn(change_col, ct)
            .where(F.col(change_col).isNotNull())
            .select(*keys, *img, change_col)
            .select(*[f.name for f in out_struct.fields])
        )

    def _read_entries(self, spark: SparkSession, meta: dict, files: list[dict]) -> DataFrame:
        """Read specific manifest entries projected to the current schema
        (empty entry list -> empty DataFrame). Files are grouped by the
        schema they were written with; each group is projected by field id
        (rename aliased, widen cast, added null-filled), then unioned.

        Every read goes through here, so this is where a table still
        holding merge-on-read delta files (an older release appended them
        and resolved each key's newest version at read time) is refused:
        a plain scan would return several versions of a key."""
        delta = next((f for f in files if f.get("delta")), None)
        if delta is not None:
            raise ValueError(
                f"icelite table {self.location} holds merge-on-read delta file "
                f"{delta['path']}; this release reads copy-on-write files only. "
                f"compact() the table with the previous release first")
        cur_fields = self._fields(meta)
        if not files:
            return spark.createDataFrame([], schema_to_struct(cur_fields))
        by_sid: dict[int, list[str]] = {}
        for f in files:
            by_sid.setdefault(f["schema_id"], []).append(os.path.join(self.location, f["path"]))
        parts: list[DataFrame] = []
        for sid, paths in by_sid.items():
            df = spark.read.parquet(*paths)
            old_fields = {f["id"]: f for f in self._fields(meta, sid)}
            cols = []
            for cf in cur_fields:
                of = old_fields.get(cf["id"])
                if of is None:  # column added after these files were written
                    cols.append(F.lit(None).cast(type_to_spark(cf["type"])).alias(cf["name"]))
                else:
                    c = F.col(of["name"])
                    if of["type"] != cf["type"]:
                        c = c.cast(type_to_spark(cf["type"]))
                    cols.append(c.alias(cf["name"]))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- write ---------------------------------------------------------------

    @staticmethod
    def sub_splits(meta: dict) -> int:
        # .get: metadata written before sub_splits existed means 1
        return int(meta["partition_spec"].get("sub_splits", 1))

    def _bucket_slot_exprs(self, meta: dict) -> tuple[F.Column, F.Column]:
        return bucket_slot_exprs([F.col(k) for k in self.key_cols(meta)],
                                 meta["partition_spec"]["num_buckets"],
                                 self.sub_splits(meta))

    def _bucket_expr(self, meta: dict) -> F.Column:
        return self._bucket_slot_exprs(meta)[0]

    def _slot_expr(self, meta: dict) -> F.Column:
        """File slot WITHIN a bucket (see bucket_slot_exprs)."""
        return self._bucket_slot_exprs(meta)[1]

    def _write_data_files(self, df: DataFrame, meta: dict) -> list[dict]:
        """Write df (current schema) as (bucket, slot)-partitioned parquet
        (one hive dir per bucket, one sub-dir per slot); return manifest
        entries. One Spark write job."""
        write_id = uuid.uuid4().hex
        out_dir = os.path.join(self._data_dir, write_id)
        n = meta["partition_spec"]["num_buckets"]
        s = self.sub_splits(meta)
        bucket, slot = self._bucket_slot_exprs(meta)
        staged = df.withColumn(BUCKET_COL, bucket).withColumn(SLOT_COL, slot)
        if self.key_cols(meta):
            # co-locate each (bucket, slot) into one task → one file each.
            # One int id, not two columns: at sub_splits=1 it equals the
            # bucket, so an unsplit table hash-partitions exactly by bucket
            staged = staged.repartition(n * s, F.col(BUCKET_COL) * s + F.col(SLOT_COL))
        staged.write.partitionBy(BUCKET_COL, SLOT_COL).parquet(out_dir)
        entries: list[dict] = []
        for bucket_dir in sorted(os.listdir(out_dir)):
            if not bucket_dir.startswith(f"{BUCKET_COL}="):
                continue
            bpath = os.path.join(out_dir, bucket_dir)
            for slot_dir in sorted(d for d in os.listdir(bpath) if d.startswith(f"{SLOT_COL}=")):
                spath = os.path.join(bpath, slot_dir)
                for fn in sorted(os.listdir(spath)):
                    if fn.endswith(".parquet"):
                        entries.append({
                            "path": os.path.relpath(os.path.join(spath, fn), self.location),
                            "bucket": int(bucket_dir.split("=", 1)[1]),
                            "slot": int(slot_dir.split("=", 1)[1]),
                            "schema_id": meta["current_schema_id"],
                        })
        return entries

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
        meta["snapshots"].append(snap)
        meta["current_snapshot_id"] = snap_id
        meta["last_snapshot_id"] = snap_id
        if properties_update:
            meta["properties"].update(properties_update)
        self._write_metadata(meta, expected_version=version)
        return snap_id

    def append(
        self,
        df: DataFrame,
        summary: dict[str, Any] | None = None,
        properties_update: dict[str, str] | None = None,
    ) -> int:
        meta, version = self._load()
        cur = self.current_snapshot()
        new_files = self._write_data_files(self._conform(df, meta), meta)
        files = (cur["files"] if cur else []) + new_files
        return self._commit_snapshot(
            meta, version, files, {"operation": "append", **(summary or {})},
            properties_update=properties_update,
        )

    def append_rows_local(
        self,
        rows: list[dict],
        summary: dict[str, Any] | None = None,
        properties_update: dict[str, str] | None = None,
    ) -> int:
        """Driver-side append of a tiny row set (e.g. per-epoch lineage,
        ≤num_buckets rows) via pyarrow — no Spark job, same atomic commit.
        Only valid for unbucketed tables (num_buckets == 1)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        meta, version = self._load()
        assert meta["partition_spec"]["num_buckets"] == 1, "local append needs num_buckets=1"
        fields = self._fields(meta)
        arrow_types = {
            "boolean": pa.bool_(), "int": pa.int32(), "long": pa.int64(),
            "float": pa.float32(), "double": pa.float64(), "string": pa.string(),
            "binary": pa.binary(), "timestamp": pa.timestamp("us"), "date": pa.date32(),
        }
        arrays, names = [], []
        for f in fields:
            names.append(f["name"])
            arrays.append(pa.array([r.get(f["name"]) for r in rows], type=arrow_types[f["type"]]))
        rel_dir = os.path.join("data", uuid.uuid4().hex)
        os.makedirs(os.path.join(self.location, rel_dir), exist_ok=True)
        rel = os.path.join(rel_dir, f"{BUCKET_COL}=0", "local.parquet")
        os.makedirs(os.path.dirname(os.path.join(self.location, rel)), exist_ok=True)
        pq.write_table(pa.Table.from_arrays(arrays, names=names), os.path.join(self.location, rel))
        entry = {"path": rel, "bucket": 0, "schema_id": meta["current_schema_id"]}
        cur = None
        if meta["current_snapshot_id"] is not None:
            cur = next(s for s in meta["snapshots"]
                       if s["snapshot_id"] == meta["current_snapshot_id"])
        files = (cur["files"] if cur else []) + [entry]
        return self._commit_snapshot(
            meta, version, files, {"operation": "append", **(summary or {})},
            properties_update=properties_update,
        )

    def overwrite(self, df: DataFrame, summary: dict[str, Any] | None = None) -> int:
        meta, version = self._load()
        new_files = self._write_data_files(self._conform(df, meta), meta)
        return self._commit_snapshot(
            meta, version, new_files, {"operation": "overwrite", **(summary or {})}
        )

    def _conform(self, df: DataFrame, meta: dict) -> DataFrame:
        cur = self._fields(meta)
        cols = []
        for f in cur:
            if f["name"] in df.columns:
                cols.append(F.col(f["name"]).cast(type_to_spark(f["type"])).alias(f["name"]))
            else:
                cols.append(F.lit(None).cast(type_to_spark(f["type"])).alias(f["name"]))
        return df.select(*cols)

    # -- CDC merge (epoch-fenced, bucket copy-on-write) -----------------------

    def last_epoch(self) -> int:
        return int(self.properties().get("cdc.last-epoch", "-1"))

    def merge_cdc(
        self,
        spark: SparkSession,
        changes: DataFrame,
        seq_col: str = "_seq",
        op_col: str = "_op",
        epoch: int | None = None,
        extra_summary: dict[str, Any] | None = None,
        extra_properties: dict[str, str] | None = None,
        touched_bucket_slots=None,
    ) -> dict:
        """Apply per-key winners (one row per key: op ∈ {upsert, delete},
        payload in current schema + seq_col) with last-writer-wins by
        seq_col against the stored `_seq`. Copy-on-write at file
        granularity: only the (bucket, slot) files holding changed keys are
        rewritten; every other file carries forward untouched.

        Exactly-once: with `epoch`, the merge is fenced — if
        epoch <= properties['cdc.last-epoch'] the call is a no-op (the
        retried foreachBatch case), and the property advances atomically
        with the snapshot commit.

        touched_bucket_slots: the pruning set, a collection of (bucket,
        slot) pairs (bucket_slot_exprs over the change keys; an unsplit
        table has slot 0 only). Callers that already know it — the CDC
        apply stage computes it in its fused stats pass — pass it here, and
        the merge runs as ONE Spark job (the write), with no pruning collect
        and no persist of the change set. A pair with no actual changes is
        rewritten identically (correct, wasteful). Without it, the merge
        derives the set itself (persist + distinct — a second job). A
        manifest entry with no slot (written before every table carried
        slots, or by append_rows_local) covers its whole bucket.

        Returns {"applied": bool, "snapshot_id": int|None}.
        """
        meta, version = self._load()
        if epoch is not None and epoch <= int(meta["properties"].get("cdc.last-epoch", "-1")):
            return {"applied": False, "snapshot_id": None, "reason": "epoch-fenced"}
        keys = self.key_cols(meta)
        assert keys, "merge_cdc requires key columns"
        cur = None
        if meta["current_snapshot_id"] is not None:
            cur = next(s for s in meta["snapshots"]
                       if s["snapshot_id"] == meta["current_snapshot_id"])
        cur_files = cur["files"] if cur else []

        persisted = touched_bucket_slots is None
        if persisted:
            # persist: the change set is consumed twice (pruning + merge
            # write) and is typically the output of an aggregation
            changes = changes.persist()
            touched_bucket_slots = (
                changes.select(*self._bucket_slot_exprs(meta)).distinct().collect())
        pairs = sorted({(int(b), int(sl)) for b, sl in touched_bucket_slots})
        selected, untouched = self._select_files(cur_files, pairs)
        target = self._read_entries(spark, meta, selected)

        data_cols = [f["name"] for f in self._fields(meta)]
        # resolve: keep target rows whose key is absent from changes or whose
        # stored seq wins; take change rows that are upserts and win.
        # Changes are full-row images: current-schema columns absent from the
        # change stream (e.g. just-added columns) are null on upsert.
        fields_by_name = {f["name"]: f for f in self._fields(meta)}
        ch = changes.select(
            *[
                (F.col(c) if c in changes.columns
                 else F.lit(None).cast(type_to_spark(fields_by_name[c]["type"]))).alias(c)
                for c in data_cols
                if c != seq_col
            ],
            F.col(seq_col),
            F.col(op_col),
        )
        joined = target.alias("t").join(ch.alias("c"), on=keys, how="full_outer")
        has_change = F.col(f"c.{op_col}").isNotNull()
        change_wins = has_change & (
            F.col(f"t.{seq_col}").isNull() | (F.col(f"c.{seq_col}") > F.col(f"t.{seq_col}"))
        )
        keep_target = (~has_change) | (~change_wins)
        is_upsert = F.col(f"c.{op_col}") != F.lit("delete")

        def pick(col: str) -> F.Column:
            if col in keys:
                return F.col(col)
            return F.when(change_wins, F.col(f"c.{col}")).otherwise(F.col(f"t.{col}"))

        merged = (
            joined.where((keep_target & F.col(f"t.{seq_col}").isNotNull()) | (change_wins & is_upsert))
            .select(*[pick(c).alias(c) for c in data_cols])
        )

        try:
            new_files = self._write_data_files(merged, meta)
        finally:
            if persisted:
                changes.unpersist()
        # PRUNING-SET GUARD: a pruning set derived by a separate pass over
        # a non-deterministic change plan can miss pairs the write then
        # lands rows in — committing would carry the stale file holding
        # their old versions forward untouched: silent duplicate key
        # versions. The written manifest entries carry each output file's
        # true (bucket, slot), so the violation is detectable here for free
        # (driver-side set check, no extra job) — fail the commit loudly.
        # A consumed slot-less file covers its whole bucket, so its rows may
        # legitimately land in any slot of that bucket.
        whole = {f["bucket"] for f in selected if f.get("slot") is None}
        stray = sorted(p for p in {(e["bucket"], e["slot"]) for e in new_files} - set(pairs)
                       if p[0] not in whole)
        if stray:
            raise RuntimeError(
                f"merge_cdc epoch {epoch}: changes landed in (bucket, slot) "
                f"pairs {stray[:10]} outside the pruning set; refusing to "
                f"commit over snapshot {meta['current_snapshot_id']} (the "
                f"change plan recomputed differently than the pass that "
                f"derived the set — non-deterministic upstream?)")
        # `untouched` was partitioned off the snapshot of the metadata
        # ALREADY loaded for the commit CAS — no fresh read (serial-path
        # trim); every selected file was consumed into `merged` above and
        # is replaced by new_files
        props = dict(extra_properties or {})
        if epoch is not None:
            props["cdc.last-epoch"] = str(epoch)
        props = props or None
        snap_id = self._commit_snapshot(
            meta,
            version,
            untouched + new_files,
            {"operation": "merge", "touched-buckets": len({b for b, _ in pairs}),
             "rewritten-files": len(selected), "carried-files": len(untouched),
             **(extra_summary or {})},
            properties_update=props,
        )
        return {"applied": True, "snapshot_id": snap_id}

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

    def compact(
        self,
        spark: SparkSession,
        drop_tombstones_below_seq: int | None = None,
        deleted_col: str = "_deleted",
        seq_col: str = "_seq",
    ) -> dict:
        """Rewrite the table's current snapshot: coalesce each bucket's file
        set to one file and physically drop tombstones whose seq is below
        the given horizon (safe once the horizon is older than any event the
        stream can still deliver — i.e. below the watermark's seq frontier).
        The Iceberg analog is rewrite_data_files + a delete-cleanup pass.
        At 10^10 events this is the job that keeps merge target reads
        proportional to live data rather than to delete history."""
        meta, version = self._load()
        df = self.read(spark)
        dropped_expr = None
        if drop_tombstones_below_seq is not None and deleted_col in df.columns:
            dropped_expr = F.col(deleted_col) & (F.col(seq_col) < drop_tombstones_below_seq)
            df = df.where(~dropped_expr)
        new_files = self._write_data_files(df, meta)
        snap_id = self._commit_snapshot(
            meta, version, new_files,
            {"operation": "compact", "tombstone-horizon": drop_tombstones_below_seq},
        )
        return {"snapshot_id": snap_id, "files": len(new_files)}

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
        snap_id = meta["last_snapshot_id"] + 1
        snap = {
            "snapshot_id": snap_id,
            "parent_id": meta["current_snapshot_id"],
            "timestamp_ms": int(time.time() * 1000),
            "schema_id": target["schema_id"],
            "summary": {"operation": "rollback", "rollback-to": snapshot_id},
            "files": list(target["files"]),
        }
        meta["snapshots"].append(snap)
        meta["current_snapshot_id"] = snap_id
        meta["last_snapshot_id"] = snap_id
        # reads resolve columns via the schema id carried by the snapshot
        meta["current_schema_id"] = target["schema_id"]
        self._write_metadata(meta, expected_version=version)
        return snap_id

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Drop old snapshots' metadata entries and garbage-collect data files
        referenced only by them (Iceberg: expire_snapshots)."""
        meta, version = self._load()
        snaps = meta["snapshots"]
        if len(snaps) <= keep_last:
            return 0
        keep = snaps[-keep_last:]
        live = {f["path"] for s in keep for f in s["files"]}
        dead = {f["path"] for s in snaps[:-keep_last] for f in s["files"]} - live
        for rel in dead:
            p = os.path.join(self.location, rel)
            if os.path.exists(p):
                os.remove(p)
            d = os.path.dirname(p)
            # prune empty bucket dirs best-effort
            try:
                os.removedirs(d)
            except OSError:
                pass
        meta["snapshots"] = keep
        self._write_metadata(meta, expected_version=version)
        return len(dead)

    def drop(self) -> None:
        shutil.rmtree(self.location, ignore_errors=True)
