import hashlib
import json
import os
import re

import pytest
from pyspark.sql import types as T

from datavec_spark.sources import icelite
from datavec_spark.sources.icelite import (
    CommitConflict,
    IceliteTable,
    merge_group,
    spark_to_type,
    type_to_spark,
)


SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.IntegerType()),
        T.StructField("_seq", T.LongType()),
        T.StructField("_deleted", T.BooleanType()),
    ]
)


def make(spark, tmp_path, rows, **kw):
    t = IceliteTable.create(str(tmp_path / "t"), SCHEMA, key_cols=["k"], num_buckets=4, **kw)
    if rows:
        t.overwrite(spark.createDataFrame(rows, SCHEMA))
    return t


def test_create_read_roundtrip(spark, tmp_path):
    t = make(spark, tmp_path, [("a", 1, 0, False), ("b", 2, 0, False)])
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == [("a", 1, 0, False), ("b", 2, 0, False)]


def test_append_and_time_travel(spark, tmp_path):
    t = make(spark, tmp_path, [("a", 1, 0, False)])
    s1 = t.current_snapshot()["snapshot_id"]
    t.append(spark.createDataFrame([("c", 3, 1, False)], SCHEMA))
    assert t.read(spark).count() == 2
    assert t.read(spark, snapshot_id=s1).count() == 1  # time travel


def test_merge_lww_and_tombstones(spark, tmp_path):
    t = make(spark, tmp_path, [("a", 1, 5, False), ("b", 2, 5, False)])
    changes = spark.createDataFrame(
        [
            ("a", 10, 9, False),   # newer seq → wins
            ("b", 99, 3, False),   # older seq → loses
            ("c", 7, 8, True),     # tombstone insert
        ],
        SCHEMA,
    )
    res = t.merge_cdc(spark, changes, epoch=0)
    assert res["applied"]
    rows = {r["k"]: (r["v"], r["_seq"], r["_deleted"]) for r in t.read(spark).collect()}
    assert rows == {"a": (10, 9, False), "b": (2, 5, False), "c": (7, 8, True)}
    # epoch fence: same epoch again is a no-op
    res2 = t.merge_cdc(spark, changes, epoch=0)
    assert not res2["applied"]
    # bucket copy-on-write: only touched buckets rewritten
    snap = t.current_snapshot()
    assert snap["summary"]["touched-buckets"] <= 4


def test_schema_evolution_by_field_id(spark, tmp_path):
    t = make(spark, tmp_path, [("a", 1, 0, False)])
    t.add_column("stars", "int")
    t.rename_column("stars", "stargazers")
    t.widen_column("stargazers", "long")
    t.rename_column("v", "value")
    df = t.read(spark)
    assert [f.name for f in df.schema.fields] == ["k", "value", "_seq", "_deleted", "stargazers"]
    assert dict(df.dtypes)["stargazers"] == "bigint"
    row = df.collect()[0]
    assert row["value"] == 1 and row["stargazers"] is None  # old file read through rename+add
    t.append(spark.createDataFrame([("b", 2, 1, False, 77)], t.schema_struct()))
    got = {r["k"]: r["stargazers"] for r in t.read(spark).collect()}
    assert got == {"a": None, "b": 77}


def test_illegal_widen_rejected(spark, tmp_path):
    t = make(spark, tmp_path, [])
    with pytest.raises(ValueError):
        t.widen_column("v", "string")


def test_tombstone_outlives_older_upsert(spark, tmp_path):
    """A delete is a tombstone that keeps its seq: an upsert with an older
    seq in a later epoch loses to it, so the key stays deleted."""
    t = make(spark, tmp_path, [("k", 1, 5, False)])
    t.merge_cdc(spark, spark.createDataFrame([("k", 0, 8, True)], SCHEMA), epoch=0)
    t.merge_cdc(spark, spark.createDataFrame([("k", 7, 7, False)], SCHEMA), epoch=1)
    assert [tuple(r) for r in t.read(spark).collect()] == [("k", 0, 8, True)]
    assert t.last_epoch() == 1


def _no_job_raises(spark, t, changes, match):
    # the check runs on the driver before any Spark job, and commits nothing
    sc = spark.sparkContext
    before = t._version()
    sc.setJobGroup("merge-check", "merge_cdc validation")
    try:
        with pytest.raises(ValueError, match=match):
            t.merge_cdc(spark, changes, epoch=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("merge-check") == []
    assert t._version() == before and t.last_epoch() == -1


def test_merge_cdc_rejects_table_without_seq(spark, tmp_path):
    """Last-writer-wins needs the fixed `_seq` column."""
    schema = T.StructType([f for f in SCHEMA.fields if f.name != "_seq"])
    t = IceliteTable.create(str(tmp_path / "noseq"), schema, key_cols=["k"], num_buckets=2)
    _no_job_raises(spark, t, spark.createDataFrame([("a", 1, False)], schema),
                   "needs a _seq column")


def test_merge_cdc_rejects_change_column_outside_schema(spark, tmp_path):
    """A change column the current schema lacks (say, an op column sent by
    an older caller) is refused, not silently dropped: dropping `_op` would
    apply the caller's deletes as upserts."""
    t = make(spark, tmp_path, [("a", 1, 5, False)])
    ch = spark.createDataFrame([("a", 1, 9, False, "delete")],
                               "k string, v int, _seq long, _deleted boolean, _op string")
    _no_job_raises(spark, t, ch, r"change columns \['_op'\] are not in the current schema")
    assert [tuple(r) for r in t.read(spark).collect()] == [("a", 1, 5, False)]


@pytest.mark.parametrize("s", ["boolean", "int", "long", "float", "double", "string",
                               "binary", "timestamp", "date", "array<string>", "array<long>"])
def test_type_table_round_trip(s):
    """Spark types come from the Arrow type table, and spark_to_type
    inverts the same table."""
    assert spark_to_type(type_to_spark(s)) == s


def test_commit_conflict_detection(spark, tmp_path):
    t = make(spark, tmp_path, [("a", 1, 0, False)])
    meta, version = t.metadata(), t._version()
    t.append(spark.createDataFrame([("b", 2, 1, False)], SCHEMA))  # someone else commits
    with pytest.raises(CommitConflict):
        t._write_metadata(meta, expected_version=version)


def test_expire_snapshots_gc(spark, tmp_path):
    """Expiry removes each dead Spark-written file with its `.crc`
    checksum sibling, and a write-id directory that no retained snapshot
    lists goes whole: data/ then holds only the retained snapshot's files
    (and their own checksums and write markers)."""
    t = make(spark, tmp_path, [("a", 1, 0, False)])
    for i in range(3):
        t.overwrite(spark.createDataFrame([("a", i, i + 1, False)], SCHEMA))
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert t.read(spark).collect()[0]["v"] == 2
    live = {f["path"] for f in t.current_snapshot()["files"]}
    data_dir = os.path.join(t.location, "data")
    assert set(os.listdir(data_dir)) == {p.split(os.sep)[1] for p in live}
    stored = {os.path.relpath(os.path.join(d, f), t.location)
              for d, _, fs in os.walk(data_dir) for f in fs}
    assert {p for p in stored if p.endswith(".parquet") and "/." not in p} == live
    crcs = {p for p in stored if p.endswith(".parquet.crc")}
    assert crcs and all(os.path.join(os.path.dirname(c), os.path.basename(c)[1:-4]) in live
                        for c in crcs)


def test_expire_snapshots_rejects_keep_last_below_one(spark, tmp_path):
    """keep_last=0 used to keep every snapshot (snaps[-0:]) and still
    commit a new metadata version; below 1 it raises and commits nothing."""
    t = make(spark, tmp_path, [("a", 1, 0, False)])
    version = t._version()
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            t.expire_snapshots(keep_last=bad)
    assert t._version() == version


def test_read_unknown_snapshot_raises_value_error(spark, tmp_path):
    """Time travel to an unknown (e.g. expired) snapshot id names the id,
    like read_changes and rollback_to."""
    t = make(spark, tmp_path, [("a", 1, 0, False)])
    with pytest.raises(ValueError, match="unknown snapshot_id 999"):
        t.read(spark, snapshot_id=999)


@pytest.mark.parametrize("keys", [[], ["nope"]], ids=["empty", "unknown"])
def test_create_refuses_a_table_without_keys(tmp_path, keys):
    """Every table is keyed: create refuses an empty key list, or a key
    that is not a schema column, with a ValueError naming the table (so it
    holds under python -O too), and writes nothing."""
    loc = str(tmp_path / "nokeys")
    with pytest.raises(ValueError, match=re.escape(f"icelite table {loc} needs at least one key")):
        IceliteTable.create(loc, SCHEMA, key_cols=keys, num_buckets=1)
    assert not os.path.exists(loc)


@pytest.mark.parametrize("op", ["overwrite", "append", "compact", "merge_cdc",
                                "append_rows_local"])
def test_every_write_path_records_entry_counts(spark, tmp_path, op):
    """Whichever path wrote a data file, its manifest entry carries
    Iceberg's record_count and file_size_in_bytes: the footer's row count
    and the file's size on disk. The counts add up to the rows read."""
    import pyarrow.parquet as pq

    t = IceliteTable.create(str(tmp_path / "t"), SCHEMA, key_cols=["k"],
                            num_buckets=1 if op == "append_rows_local" else 4)
    t.overwrite(spark.createDataFrame(
        [(f"k{i}", i, 1, False) for i in range(20)] + [("dead", 0, 1, True)], SCHEMA))
    if op == "append":
        t.append(spark.createDataFrame([("x", 1, 2, False), ("y", 2, 2, False)], SCHEMA))
    elif op == "compact":
        t.append(spark.createDataFrame([("x", 1, 2, False)], SCHEMA))
        t.compact(spark, drop_tombstones_below_seq=5)
    elif op == "merge_cdc":
        t.merge_cdc(spark, spark.createDataFrame(
            [("k3", 9, 5, False), ("k4", 0, 5, True), ("new", 7, 5, False)], SCHEMA), epoch=0)
    elif op == "append_rows_local":
        t.append_rows_local([{"k": "z", "v": 3, "_seq": 2, "_deleted": False}])
    snap = t.current_snapshot()
    assert snap["summary"]["operation"] == {"merge_cdc": "merge",
                                            "append_rows_local": "append"}.get(op, op)
    for f in snap["files"]:
        path = os.path.join(t.location, f["path"])
        assert f["record_count"] == pq.read_metadata(path).num_rows, f
        assert f["file_size_in_bytes"] == os.path.getsize(path), f
    assert sum(f["record_count"] for f in snap["files"]) == t.read(spark).count()


def test_append_rows_local_rejects_bucketed_table(tmp_path):
    """append_rows_local writes every row to bucket 0, which later merges
    of a bucketed table would never read for most keys; it raises (also
    under python -O) and writes and commits nothing."""
    t = IceliteTable.create(str(tmp_path / "b4"), SCHEMA, key_cols=["k"], num_buckets=4)
    with pytest.raises(ValueError, match="num_buckets=4"):
        t.append_rows_local([{"k": "a", "v": 1, "_seq": 1, "_deleted": False}])
    assert t.current_snapshot() is None
    assert os.listdir(os.path.join(t.location, "data")) == []


def test_lost_local_append_leaves_no_files(tmp_path):
    """A local append that loses the version CAS removes the file it wrote
    before re-raising CommitConflict."""
    schema = T.StructType([T.StructField("i", T.IntegerType())])
    t = IceliteTable.create(str(tmp_path / "lin"), schema, key_cols=["i"], num_buckets=1)
    t.append_rows_local([{"i": 1}])
    data_dir = os.path.join(t.location, "data")
    written = set(os.listdir(data_dir))
    stale = t._load()
    t.append_rows_local([{"i": 2}])          # another writer commits first
    written |= set(os.listdir(data_dir))
    t._load = lambda: stale
    with pytest.raises(CommitConflict):
        t.append_rows_local([{"i": 3}])
    assert set(os.listdir(data_dir)) == written


def test_compact_drops_old_tombstones_and_coalesces(spark, tmp_path):
    t = make(spark, tmp_path, [("a", 1, 5, False), ("b", 2, 6, True), ("c", 3, 90, True)])
    t.append(spark.createDataFrame([("d", 4, 7, False)], SCHEMA))
    n_files_before = len(t.current_snapshot()["files"])
    res = t.compact(spark, drop_tombstones_below_seq=50)
    rows = {r["k"]: (r["_seq"], r["_deleted"]) for r in t.read(spark).collect()}
    # b's tombstone (seq 6 < 50) physically dropped; c's (seq 90) retained
    assert rows == {"a": (5, False), "c": (90, True), "d": (7, False)}
    assert len(t.current_snapshot()["files"]) <= n_files_before
    # time travel to the pre-compaction snapshot still sees b's tombstone
    snaps = t.snapshots()
    prev = snaps[-2]["snapshot_id"]
    assert t.read(spark, snapshot_id=prev).count() == 4


def test_compact_keeps_null_flag_rows_below_horizon(spark, tmp_path):
    """A null `_deleted` flag is live: compaction drops only true
    tombstones below the horizon."""
    t = IceliteTable.create(str(tmp_path / "t"), SCHEMA, key_cols=["k"], num_buckets=1)
    t.overwrite(spark.createDataFrame(
        [("live", 0, 1, None), ("tomb", 0, 2, True), ("ok", 0, 3, False)], SCHEMA))
    t.compact(spark, drop_tombstones_below_seq=10)
    rows = {r["k"]: (r["_seq"], r["_deleted"]) for r in t.read(spark).collect()}
    assert rows == {"live": (1, None), "ok": (3, False)}


def test_load_returns_consistent_pair(spark, tmp_path):
    """Regression for the round-1 commit race: metadata() and _version()
    read separately could pair STALE metadata with a NEWER version. _load()
    reads the hint once and loads exactly that v{N}.json, so a commit
    landing between a writer's read and its commit always surfaces as
    CommitConflict — never as silent snapshot loss."""
    t = make(spark, tmp_path, [("a", 1, 0, False)])
    meta1, v1 = t._load()
    # concurrent committer lands AFTER this writer read its (meta, version)
    t.append(spark.createDataFrame([("b", 2, 1, False)], SCHEMA))
    meta2, v2 = t._load()
    assert v2 == v1 + 1
    # the pair is internally consistent: the files listed belong to v2's
    # snapshot, not a mix
    assert meta2["current_snapshot_id"] != meta1["current_snapshot_id"]
    with pytest.raises(CommitConflict):
        t._write_metadata(meta1, expected_version=v1)
    # and committing with the FRESH pair succeeds
    t._write_metadata(meta2, expected_version=v2)
    assert t._version() == v2 + 1


def test_failed_metadata_write_leaves_no_version(tmp_path, monkeypatch):
    """A commit that fails while writing its metadata JSON leaves no
    v{N+1}.json and no temp file behind, so a retry commits v{N+1}."""
    schema = T.StructType([T.StructField("i", T.IntegerType())])
    t = IceliteTable.create(str(tmp_path / "lin"), schema, key_cols=["i"], num_buckets=1)
    v = t._version()

    def boom(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(icelite.json, "dump", boom)
    with pytest.raises(OSError, match="disk full"):
        t.append_rows_local([{"i": 1}])
    monkeypatch.undo()
    meta_dir = os.path.join(t.location, "metadata")
    assert not os.path.exists(os.path.join(meta_dir, f"v{v + 1}.json"))
    assert sorted(os.listdir(meta_dir)) == sorted(
        [f"v{i}.json" for i in range(1, v + 1)] + ["version-hint.text"])
    t.append_rows_local([{"i": 2}])
    assert t._version() == v + 1
    assert len(t.current_snapshot()["files"]) == 1


def test_version_hint_is_only_a_hint(spark, tmp_path):
    """A complete v{N+1}.json whose hint swing never happened (the writer
    died after the commit point) is the current version: read() sees its
    snapshot and the next commit is v{N+2}."""
    t = make(spark, tmp_path, [("a", 1, 0, False)])
    v = t._version()
    t.append(spark.createDataFrame([("b", 2, 1, False)], SCHEMA))
    hint = os.path.join(t.location, "metadata", "version-hint.text")
    with open(hint, "w") as fh:
        fh.write(str(v))                     # the hint lags one commit
    assert t._version() == v + 1
    assert sorted(r["k"] for r in t.read(spark).collect()) == ["a", "b"]
    t.append(spark.createDataFrame([("c", 3, 2, False)], SCHEMA))
    assert os.path.exists(os.path.join(t.location, "metadata", f"v{v + 2}.json"))
    assert sorted(r["k"] for r in t.read(spark).collect()) == ["a", "b", "c"]


def test_rollback_to_snapshot(spark, tmp_path):
    t = make(spark, tmp_path, [("a", 1, 0, False)])
    s1 = t.current_snapshot()["snapshot_id"]
    t.append(spark.createDataFrame([("b", 2, 1, False)], SCHEMA))
    assert t.read(spark).count() == 2
    rb = t.rollback_to(s1)
    # current state is the old snapshot's content, via a NEW snapshot
    assert t.read(spark).count() == 1
    assert t.current_snapshot()["snapshot_id"] == rb
    assert t.current_snapshot()["summary"]["operation"] == "rollback"
    # history preserved: time travel still reaches the rolled-over snapshot
    assert t.read(spark, snapshot_id=s1 + 1).count() == 2
    # the table keeps working after rollback
    t.append(spark.createDataFrame([("c", 3, 2, False)], SCHEMA))
    assert t.read(spark).count() == 2


def test_rollback_then_evolve_unique_schema_ids(spark, tmp_path):
    """Regression: rollback_to sets current_schema_id back to an older id;
    _evolve must allocate past the HIGHEST id ever used (max+1), not
    current+1 — otherwise the new schema duplicates an existing schema_id
    and _fields silently resolves the stale first match."""
    t = make(spark, tmp_path, [("a", 1, 0, False)])
    s1 = t.current_snapshot()["snapshot_id"]
    t.add_column("stars", "int")          # schema_id 1
    t.append(spark.createDataFrame([("b", 2, 1, False, 9)], t.schema_struct()))
    t.rollback_to(s1)                     # current_schema_id back to 0
    t.add_column("forks", "int")          # must become schema_id 2, not 1
    sids = [s["schema_id"] for s in t.metadata()["schemas"]]
    assert sids == sorted(set(sids)), f"duplicate schema ids: {sids}"
    names = [f["name"] for f in t._fields(t.metadata())]
    assert "forks" in names and "stars" not in names
    # the evolved table reads and writes through the NEW schema
    t.append(spark.createDataFrame([("c", 3, 2, False, 4)], t.schema_struct()))
    got = {r["k"]: r["forks"] for r in t.read(spark).collect()}
    assert got == {"a": None, "c": 4}


def test_concurrent_merge_conflict_retry_exactly_once(spark, tmp_path):
    """Two writers race a merge: the loser's optimistic commit raises
    CommitConflict (stale version CAS); a plain retry through the public
    API then lands its epoch, and BOTH epochs' rows are present exactly
    once — no lost update, no double-apply. The loser leaves no files."""
    t = make(spark, tmp_path, [("a", 1, 0, False)])
    ch1 = spark.createDataFrame([("x", 10, 5, False)], SCHEMA)
    ch2 = spark.createDataFrame([("y", 20, 6, False)], SCHEMA)

    loser = IceliteTable(t.location)
    stale = loser._load()                    # loser reads (meta, version) first
    orig_load = IceliteTable._load
    IceliteTable._load = lambda self: (stale[0], stale[1]) if self is loser else orig_load(self)
    data_dir = os.path.join(t.location, "data")
    try:
        t.merge_cdc(spark, ch1, epoch=0)     # winner commits in between
        written = set(os.listdir(data_dir))
        with pytest.raises(CommitConflict):
            loser.merge_cdc(spark, ch2, epoch=1)
    finally:
        IceliteTable._load = orig_load
    # the loser wrote its merged file, lost the CAS and removed it: no
    # snapshot lists it, so nothing else would ever collect it
    assert set(os.listdir(data_dir)) == written
    # retry with a fresh read — the normal foreachBatch retry path
    res = loser.merge_cdc(spark, ch2, epoch=1)
    assert res["applied"]
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {"a": 1, "x": 10, "y": 20}
    assert t.last_epoch() == 1


def test_concurrent_appends_threaded_retry(tmp_path):
    """Thread-level race on the metadata CAS: two writers append disjoint
    row sets concurrently with a retry-on-conflict loop (pyarrow local
    appends — pure metadata contention, no Spark jobs). Every row must land
    exactly once and the version history must be a clean linear chain."""
    import threading

    import duckdb

    loc = str(tmp_path / "lineage")
    schema = T.StructType([T.StructField("writer", T.StringType()),
                           T.StructField("i", T.IntegerType())])
    IceliteTable.create(loc, schema, key_cols=["writer", "i"], num_buckets=1)
    barrier = threading.Barrier(2)
    errors = []

    def writer(name):
        try:
            t = IceliteTable(loc)
            barrier.wait()
            for i in range(10):
                while True:
                    try:
                        t.append_rows_local([{"writer": name, "i": i}])
                        break
                    except CommitConflict:
                        continue  # reload happens inside append_rows_local
        except Exception as e:  # pragma: no cover
            errors.append(e)

    th = [threading.Thread(target=writer, args=(n,)) for n in ("w1", "w2")]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errors
    t = IceliteTable(loc)
    files = [os.path.join(loc, f["path"]) for f in t.current_snapshot()["files"]]
    rows = duckdb.execute(
        f"SELECT writer, i FROM read_parquet({files!r}) ORDER BY writer, i"
    ).fetchall()
    assert rows == [(w, i) for w in ("w1", "w2") for i in range(10)]
    assert len(t.snapshots()) == 20  # one snapshot per successful append


def test_widen_partition_key_rejected(spark, tmp_path):
    """Bucket assignment hashes key values with their CURRENT types and
    xxhash64(int) != xxhash64(long) for the same value: widening a key
    column would silently strand existing rows in stale buckets (duplicate
    keys on the next merge). The contract is now enforced, not just
    documented (round-5 advice item #1)."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("_seq", T.LongType()),
            T.StructField("_deleted", T.BooleanType()),
        ]
    )
    t = IceliteTable.create(str(tmp_path / "kt"), schema, key_cols=["id"], num_buckets=4)
    with pytest.raises(ValueError, match="partition-key"):
        t.widen_column("id", "long")
    t.widen_column("v", "long")  # non-key widen unaffected
    assert dict(t.read(spark).dtypes)["v"] == "bigint"


def test_one_key_merge_rewrites_one_bucket_file(spark, tmp_path):
    """The bucket is the rewrite unit: on an 8-bucket table a one-key delta
    rewrites the one file of the key's bucket, at a `__bucket=B` path, and
    carries the other 7 forward byte-identically."""
    rows = [(f"k{i}", i, 0, False) for i in range(200)]
    t = IceliteTable.create(str(tmp_path / "t"), SCHEMA, key_cols=["k"], num_buckets=8)
    t.overwrite(spark.createDataFrame(rows, SCHEMA))

    def digest(rel):
        with open(os.path.join(t.location, rel), "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()

    files_before = {f["path"]: f for f in t.current_snapshot()["files"]}
    assert sorted(f["bucket"] for f in files_before.values()) == list(range(8))
    digests = {p: digest(p) for p in files_before}
    bucket = spark.createDataFrame([("k7",)], "k string") \
        .select(t._bucket_expr(t.metadata())).first()[0]
    change = spark.createDataFrame([("k7", 777, 5, False)], SCHEMA)
    assert t.merge_cdc(spark, change, epoch=0)["applied"]

    snap = t.current_snapshot()
    files_after = {f["path"]: f for f in snap["files"]}
    carried = set(files_before) & set(files_after)
    assert [files_before[p]["bucket"] for p in set(files_before) - carried] == [bucket]
    assert len(carried) == 7 and all(digest(p) == digests[p] for p in carried)
    assert snap["summary"]["rewritten-files"] == 1
    assert snap["summary"]["carried-files"] == 7
    new = [f for p, f in files_after.items() if p not in files_before]
    assert [(f["bucket"], os.path.basename(os.path.dirname(f["path"]))) for f in new] \
        == [(bucket, f"__bucket={bucket}")]
    assert "slot" not in new[0]
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == sorted([r for r in rows if r[0] != "k7"] + [("k7", 777, 5, False)])


@pytest.mark.parametrize("sub_splits", [1, 3])
def test_sub_splits_self_derived_pruning_and_legacy_files(spark, tmp_path, sub_splits):
    """An older release split each bucket into `sub_splits` slot files:
    several files of one bucket, each holding only that bucket's keys.
    Forge that layout — three appends give each bucket three files, the
    spec gains `sub_splits` and the entries a `slot`, one entry left
    slot-less. With no compact(), a one-key merge finds its own bucket,
    consumes every file of it and writes one, carries the other bucket's
    files, and read_changes across it reports exactly that key."""
    t = IceliteTable.create(str(tmp_path / "t2"), SCHEMA, key_cols=["k"], num_buckets=2)
    for part in range(3):
        t.append(spark.createDataFrame(
            [(f"k{i}", i, 0, False) for i in range(part, 60, 3)], SCHEMA))
    meta, version = t._load()
    meta["partition_spec"]["sub_splits"] = sub_splits
    files = t._current(meta)["files"]
    for i, f in enumerate(files):
        f["slot"] = i % sub_splits
    files[0].pop("slot")
    t._write_metadata(meta, expected_version=version)
    s0 = t.current_snapshot()["snapshot_id"]
    by_bucket: dict[int, set] = {}
    for f in files:
        by_bucket.setdefault(f["bucket"], set()).add(f["path"])
    assert sorted(by_bucket) == [0, 1] and all(len(p) == 3 for p in by_bucket.values())

    # a key of the slot-less file, so that file's bucket is the touched one
    key = spark.read.parquet(os.path.join(t.location, files[0]["path"])).first()["k"]
    b = files[0]["bucket"]
    t.merge_cdc(spark, spark.createDataFrame([(key, 999, 9, False)], SCHEMA), epoch=0)
    snap = t.current_snapshot()
    after = {f["path"]: f for f in snap["files"]}
    assert by_bucket[b].isdisjoint(after)
    assert by_bucket[1 - b] <= set(after)
    assert [f["bucket"] for p, f in after.items() if p not in by_bucket[1 - b]] == [b]
    assert (snap["summary"]["rewritten-files"], snap["summary"]["carried-files"]) == (3, 3)
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[key] == 999 and len(got) == 60
    assert {r["k"]: (r["_change_type"], r["v"])
            for r in t.read_changes(spark, from_snapshot_id=s0).collect()} \
        == {key: ("upsert", 999)}


def test_merge_cdc_routes_every_row_to_its_bucket(spark, tmp_path):
    """The merge tasks' output is the touched set, so routing must be
    exact: on a 12-bucket table every row of every new file hashes to its
    manifest entry's bucket, each bucket has one file, and every key
    appears exactly once across the snapshot — also when a key has several
    change rows."""
    t = IceliteTable.create(str(tmp_path / "t"), SCHEMA, key_cols=["k"], num_buckets=12)
    t.overwrite(spark.createDataFrame([(f"k{i}", 0, 0, False) for i in range(40)], SCHEMA))
    old_paths = {f["path"] for f in t.current_snapshot()["files"]}
    changes = spark.createDataFrame(
        [(f"k{i}", s, s, False) for i in range(0, 60, 3) for s in (1, 2)], SCHEMA)
    t.merge_cdc(spark, changes, epoch=0)
    meta = t.metadata()
    files = t.current_snapshot()["files"]
    assert len({f["bucket"] for f in files}) == len(files)
    new = [f for f in files if f["path"] not in old_paths]
    assert new
    for f in new:
        got = {r[0] for r in spark.read.parquet(os.path.join(t.location, f["path"]))
               .select(t._bucket_expr(meta)).distinct().collect()}
        assert got == {f["bucket"]}, f
    rows = t.read(spark).collect()
    keys = {f"k{i}" for i in range(40)} | {f"k{i}" for i in range(0, 60, 3)}
    assert len(rows) == len({r["k"] for r in rows}) == len(keys)
    assert {r["k"] for r in rows} == keys
    assert {r["k"]: r["v"] for r in rows if r["v"]} == {f"k{i}": 2 for i in range(0, 60, 3)}


def test_merge_group_kernel_is_retry_safe_and_resolves_lww(tmp_path):
    """The merge kernel on plain pyarrow tables, no Spark. Run twice on the
    same input (a retried task), it leaves one file and returns the same
    entry. Per key the highest seq wins over changes plus the stored file,
    the stored row wins a tie and a tombstone is kept as an ordinary row.
    Old-schema target files bind by field id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    old = [{"id": 1, "name": "k", "type": "string"}, {"id": 2, "name": "val", "type": "int"},
           {"id": 3, "name": "_seq", "type": "long"}, {"id": 4, "name": "_deleted", "type": "boolean"}]
    cur = [{"id": 1, "name": "k", "type": "string"}, {"id": 2, "name": "v", "type": "long"},
           {"id": 3, "name": "_seq", "type": "long"}, {"id": 4, "name": "_deleted", "type": "boolean"},
           {"id": 5, "name": "extra", "type": "string"}]
    target = os.path.join(str(tmp_path), "old.parquet")
    pq.write_table(pa.table({
        "k": ["tie", "multi", "tomb", "kept"],
        "val": pa.array([1, 1, 1, 1], pa.int32()),
        "_seq": [5, 5, 5, 5], "_deleted": [False] * 4}), target)
    changes = pa.table({
        "k": ["tie", "multi", "multi", "multi", "tomb", "new"],
        "v": [2, 7, 9, 8, 3, 6],
        "_seq": [5, 7, 9, 8, 6, 1],
        "_deleted": [False, False, False, False, True, False],
        "extra": ["x", None, "nine", None, None, "n"]})
    spec = {"location": str(tmp_path), "write_id": "w1", "epoch": 3, "cap": 1 << 30,
            "num_buckets": 4, "keys": ["k"], "fields": cur, "schema_id": 1, "schemas": {0: old, 1: cur},
            "files": {2: [(target, 0)]}}
    first = merge_group(changes, 2, spec)
    second = merge_group(changes, 2, spec)
    assert first == second
    assert first["path"] == os.path.join("data", "w1", "__bucket=2", "merge.parquet")
    out_dir = os.path.join(str(tmp_path), os.path.dirname(first["path"]))
    assert os.listdir(out_dir) == ["merge.parquet"]
    assert (first["bucket"], first["schema_id"]) == (2, 1) and "slot" not in first
    path = os.path.join(str(tmp_path), first["path"])
    assert first["file_size_in_bytes"] == os.path.getsize(path)
    got = pq.read_table(path).to_pylist()
    assert first["record_count"] == len(got) == 5
    assert got == [  # key-sorted
        {"k": "kept", "v": 1, "_seq": 5, "_deleted": False, "extra": None},
        {"k": "multi", "v": 9, "_seq": 9, "_deleted": False, "extra": "nine"},
        {"k": "new", "v": 6, "_seq": 1, "_deleted": False, "extra": "n"},
        {"k": "tie", "v": 1, "_seq": 5, "_deleted": False, "extra": None},
        {"k": "tomb", "v": 3, "_seq": 6, "_deleted": True, "extra": None},
    ]


def test_merge_group_breaks_equal_seq_ties_by_content(tmp_path):
    """Change rows with an equal key and `_seq` are ordered by content, not
    by arrival: a tombstone wins an equal-seq live image, and of two live
    images the one that sorts first by its other columns wins (the list
    column is left out of that order). Every permutation of the change rows
    writes a file with the same sha256."""
    import itertools

    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = [{"id": 1, "name": "k", "type": "string"}, {"id": 2, "name": "v", "type": "string"},
              {"id": 3, "name": "tags", "type": "array<string>"},
              {"id": 4, "name": "_seq", "type": "long"}, {"id": 5, "name": "_deleted", "type": "boolean"}]
    rows = [("a", "y", ["p"], 5, False), ("a", "x", ["q"], 5, False),
            ("b", "live", [], 3, False), ("b", None, None, 3, True),
            ("c", "only", None, 1, False)]
    spec = {"location": str(tmp_path), "write_id": "w", "epoch": 0, "cap": 1 << 30,
            "num_buckets": 1, "keys": ["k"], "fields": fields, "schema_id": 0,
            "schemas": {0: fields}, "files": {}}
    shas = set()
    for perm in itertools.permutations(rows):
        changes = pa.Table.from_pylist([dict(zip([f["name"] for f in fields], r)) for r in perm],
                                       schema=icelite.schema_to_arrow(fields))
        entry = merge_group(changes, 0, spec)
        with open(os.path.join(str(tmp_path), entry["path"]), "rb") as fh:
            shas.add(hashlib.sha256(fh.read()).hexdigest())
    assert len(shas) == 1
    got = pq.read_table(os.path.join(str(tmp_path), entry["path"])).to_pylist()
    assert [(r["k"], r["v"], r["_deleted"]) for r in got] == [
        ("a", "x", False), ("b", None, True), ("c", "only", False)]


def test_merge_type_round_trip_through_arrow(spark, tmp_path):
    """Every icelite primitive plus array<string> survives a merge whose
    pyarrow task reads a Spark-written old-schema file (a renamed column,
    an int widened to long, an added column) and writes its own file, a
    second merge that reads that file back, and a Spark append into the
    same schema: read() returns the expected rows."""
    import datetime as dt

    schema = T.StructType([
        T.StructField("k", T.StringType()), T.StructField("flag", T.BooleanType()),
        T.StructField("n", T.IntegerType()), T.StructField("big", T.LongType()),
        T.StructField("f", T.FloatType()), T.StructField("d", T.DoubleType()),
        T.StructField("name", T.StringType()), T.StructField("blob", T.BinaryType()),
        T.StructField("at", T.TimestampType()), T.StructField("day", T.DateType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("_seq", T.LongType()), T.StructField("_deleted", T.BooleanType()),
    ])
    ts = dt.datetime(2021, 3, 4, 5, 6, 7, 123456)

    def row(k, i, seq):
        return (k, i % 2 == 0, i, 10**12 + i, i + 0.5, i / 4, f"name-{i}", bytes([i, 255]),
                ts + dt.timedelta(days=i, microseconds=i), dt.date(2020, 1, 1) + dt.timedelta(days=i),
                [f"t{i}", None, "é"], seq, False)

    # one bucket: the first merge rewrites the table's only file
    t = IceliteTable.create(str(tmp_path / "types"), schema, key_cols=["k"], num_buckets=1)
    t.overwrite(spark.createDataFrame([row(f"k{i}", i, 0) for i in range(8)], schema))
    t.rename_column("name", "title")
    t.widen_column("n", "long")
    t.add_column("note", "string")

    def cur(r, note=None):
        return r + (note,)

    tomb = row("k2", 2, 5)[:-1] + (True, None)
    t.merge_cdc(spark, spark.createDataFrame(
        [cur(row("k1", 21, 5), "upd"), cur(row("k9", 9, 5), "new"), tomb],
        t.schema_struct()), epoch=0)
    t.merge_cdc(spark, spark.createDataFrame(
        [cur(row("k3", 33, 6), "again")], t.schema_struct()), epoch=1)

    want = {f"k{i}": cur(row(f"k{i}", i, 0)) for i in (0, 4, 5, 6, 7)}
    want.update({"k1": cur(row("k1", 21, 5), "upd"), "k9": cur(row("k9", 9, 5), "new"),
                 "k3": cur(row("k3", 33, 6), "again"), "k2": tomb})

    def check():
        df = t.read(spark)
        assert [(f.name, f.dataType) for f in df.schema.fields] == \
            [(f.name, f.dataType) for f in t.schema_struct().fields]
        assert dict(df.dtypes)["n"] == "bigint" and "title" in df.columns
        got = {r["k"]: tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
               for r in df.collect()}
        assert got == want

    check()  # every file of the current schema was written by pyarrow
    t.append(spark.createDataFrame([cur(row("k10", 10, 7), "app")], t.schema_struct()))
    want["k10"] = cur(row("k10", 10, 7), "app")
    check()  # pyarrow and Spark files of one schema, read together


def test_read_changes_cow_diff(spark, tmp_path):
    """Incremental changelog over COW merges: upsert/update/delete between
    two snapshots, unchanged keys silent, initial-load mode, and the
    no-change / same-snapshot edges."""
    t = make(spark, tmp_path, [("a", 1, 5, False), ("b", 2, 5, False),
                               ("z", 9, 5, False)])
    s0 = t.current_snapshot()["snapshot_id"]

    # initial load: everything as upsert
    init = {r["k"]: r["_change_type"]
            for r in t.read_changes(spark, from_snapshot_id=None).collect()}
    assert init == {"a": "upsert", "b": "upsert", "z": "upsert"}

    t.merge_cdc(spark, spark.createDataFrame(
        [("a", 10, 9, False),      # update
         ("b", 0, 8, True),        # delete: a tombstone
         ("c", 7, 8, False),       # insert
         ("z", 9, 4, False)],      # LWW loser → NOT a change
        SCHEMA), epoch=0)
    s1 = t.current_snapshot()["snapshot_id"]

    got = {r["k"]: (r["_change_type"], r["v"])
           for r in t.read_changes(spark, from_snapshot_id=s0,
                                   to_snapshot_id=s1).collect()}
    assert got == {"a": ("upsert", 10), "b": ("delete", 2), "c": ("upsert", 7)}

    # same snapshot on both sides → empty; unknown snapshot → ValueError
    assert t.read_changes(spark, from_snapshot_id=s1, to_snapshot_id=s1).count() == 0
    with pytest.raises(ValueError, match="unknown"):
        t.read_changes(spark, from_snapshot_id=10**9)


def test_read_changes_before_first_snapshot_is_empty(spark, tmp_path):
    t = IceliteTable.create(str(tmp_path / "t"), SCHEMA, key_cols=["k"], num_buckets=2)
    got = t.read_changes(spark)
    assert got.count() == 0
    assert got.columns == ["k", "v", "_seq", "_deleted", "_change_type"]
    with pytest.raises(ValueError, match="unknown to_snapshot_id 12345"):
        t.read_changes(spark, to_snapshot_id=12345)
    with pytest.raises(ValueError, match="unknown"):
        t.read_changes(spark, from_snapshot_id=12345)


def test_read_changes_loads_metadata_once(spark, tmp_path, monkeypatch):
    """One read_changes poll loads metadata once, so both sides of its diff
    are projected to the same schema."""
    t = make(spark, tmp_path, [("a", 1, 5, False), ("b", 2, 5, False)])
    s0 = t.current_snapshot()["snapshot_id"]
    t.merge_cdc(spark, spark.createDataFrame([("a", 3, 9, False)], SCHEMA), epoch=0)
    loads = []
    real = IceliteTable._load

    def counting(self):
        loads.append(1)
        return real(self)

    monkeypatch.setattr(IceliteTable, "_load", counting)
    changes = t.read_changes(spark, from_snapshot_id=s0)
    assert len(loads) == 1
    monkeypatch.undo()
    assert [(r["k"], r["v"], r["_change_type"]) for r in changes.collect()] == [("a", 3, "upsert")]


def test_read_changes_across_compaction_and_pruning(spark, tmp_path):
    """Changelog across merges + compaction: a compaction rewrite between
    the snapshots is content-neutral and contributes no change rows. Also
    pins the scale contract: the diff's candidate set is the buckets of
    added/removed files, a strict subset of the table's buckets for a
    1-key change."""
    t = make(spark, tmp_path, [("a", 1, 5, False), ("b", 2, 5, False),
                               ("q", 3, 5, False)])
    s0 = t.current_snapshot()["snapshot_id"]
    t.merge_cdc(spark, spark.createDataFrame(
        [("a", 11, 9, False), ("n", 5, 9, False)], SCHEMA), epoch=0)
    pre = t.current_snapshot()["snapshot_id"]
    t.compact(spark)
    post = t.current_snapshot()["snapshot_id"]
    # compaction rewrote every file, yet the diff across it is empty
    assert t.read_changes(spark, from_snapshot_id=pre, to_snapshot_id=post).count() == 0
    t.merge_cdc(spark, spark.createDataFrame([("b", 0, 10, True)], SCHEMA), epoch=1)
    s2 = t.current_snapshot()["snapshot_id"]

    got = {r["k"]: (r["_change_type"], r["v"])
           for r in t.read_changes(spark, from_snapshot_id=s0,
                                   to_snapshot_id=s2).collect()}
    assert got == {"a": ("upsert", 11), "n": ("upsert", 5), "b": ("delete", 2)}

    # candidate-bucket pruning: a 1-key change between two adjacent
    # snapshots must not read every bucket's files
    snaps = t.snapshots()
    old_files, new_files = snaps[-2]["files"], snaps[-1]["files"]
    old_paths = {f["path"] for f in old_files}
    new_paths = {f["path"] for f in new_files}
    cand_buckets = ({f["bucket"] for f in new_files if f["path"] not in old_paths}
                    | {f["bucket"] for f in old_files if f["path"] not in new_paths})
    all_buckets = {f["bucket"] for f in old_files + new_files}
    assert cand_buckets and cand_buckets < all_buckets  # pruning is real
    one = {r["k"]: r["_change_type"]
           for r in t.read_changes(spark, from_snapshot_id=snaps[-2]["snapshot_id"],
                                   to_snapshot_id=snaps[-1]["snapshot_id"]).collect()}
    assert one == {"b": "delete"}


def test_read_refuses_merge_on_read_delta_files(spark, tmp_path):
    """A table whose manifest still lists merge-on-read delta files (an
    older release appended them and resolved keys at read time) fails
    loudly instead of returning several versions of a key."""
    t = make(spark, tmp_path, [("a", 1, 5, False), ("b", 2, 5, False)])
    meta, v = t._load()
    snap = next(s for s in meta["snapshots"]
                if s["snapshot_id"] == meta["current_snapshot_id"])
    snap["files"][0]["delta"] = True
    with open(os.path.join(t.location, "metadata", f"v{v}.json"), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError) as err:
        t.read(spark)
    msg = str(err.value)
    assert t.location in msg and snap["files"][0]["path"] in msg
    assert "compact()" in msg
