"""End-to-end CDC replay vs the pure-Python oracle (FIXTURES.md §A).

Asserts set-equality of (repo, path, sha256(content)) plus final schema —
the BASELINE.json per-row invariant — for batch replay, chunked epoch
replay (exactly-once fencing), and Structured Streaming replay with
checkpoint resume.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from datavec_spark.sources.icelite import IceliteTable
from datavec_spark.streaming.datagen import (
    EVENT_SCHEMA,
    generate_base_rows,
    generate_events,
    events_to_table,
    write_event_chunks,
)
from datavec_spark.streaming.oracle import replay as oracle_replay, expected_key_hashes
from datavec_spark.streaming.replay import (
    EVENT_SPARK_SCHEMA,
    CdcEngine,
    content_expr,
)

N_EVENTS = 2500


@pytest.fixture(scope="module")
def fixture():
    base = generate_base_rows(150, n_repos=30, paths_per_repo=25)
    events = generate_events(N_EVENTS, n_repos=30, paths_per_repo=25)
    state, schema = oracle_replay(base, events)
    return base, events, state, schema


def base_df(spark, base):
    return spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in base],
        "repo string, path string, commit string, lang string, content string",
    )


def events_df(spark, events):
    import pandas as pd

    pdf = events_to_table(events).to_pandas()
    return spark.createDataFrame(pdf, EVENT_SPARK_SCHEMA)


def assert_final_state(spark, engine, state, schema):
    got = {
        (r["repo"], r["path"], r["content_sha"])
        for r in engine.final_state_hashes(spark).collect()
    }
    assert got == expected_key_hashes(state)
    # final schema (user view) matches the oracle's evolved schema
    user = engine.read_current(spark)
    got_schema = [(f.name, f.dataType.simpleString()) for f in user.schema.fields]
    want = [(n, {"string": "string", "int": "int", "long": "bigint"}[t]) for n, t in schema]
    assert got_schema == want


def jobs_in_group(spark, group, step):
    """(step's result, number of Spark jobs it started), counted by job
    group; the listener bus is drained first so no job is missed."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = step()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def compiles(spark) -> int:
    """Janino compiles so far in this JVM, from Spark's CodegenMetrics."""
    cg = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cg.METRIC_COMPILATION_TIME().getCount()


def data_events(events):
    return [e for e in events if e["op"] in ("insert", "update", "delete")]


def listed_and_stored(table):
    """(parquet files listed by any snapshot, parquet files under data/,
    write-id directories listed by any snapshot, those under data/)."""
    listed = {f["path"] for s in table.snapshots() for f in s["files"]}
    data_dir = os.path.join(table.location, "data")
    stored = {os.path.relpath(os.path.join(d, f), table.location)
              for d, _, fs in os.walk(data_dir) for f in fs if f.endswith(".parquet")}
    return (listed, stored, {p.split(os.sep)[1] for p in listed}, set(os.listdir(data_dir)))


def test_batch_replay_matches_oracle(spark, tmp_path, fixture):
    """The whole log as one epoch, schema ops included: the epoch discards
    its first merge's files, applies the ops and merges again. The state
    equals the oracle, one merge snapshot is committed, and data/ holds no
    file or write-id directory that no snapshot lists, also after a retry
    of the committed epoch."""
    base, events, state, schema = fixture
    assert len(data_events(events)) < len(events)
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=8)
    eng.bootstrap(spark, base_df(spark, base))
    res = eng.apply_batch(spark, events_df(spark, events), epoch=0)
    assert res["applied"]
    assert_final_state(spark, eng, state, schema)
    t = eng.table()
    assert [s["summary"]["operation"] for s in t.snapshots()] == ["overwrite", "merge"]
    listed, stored, listed_ids, stored_ids = listed_and_stored(t)
    assert stored == listed and stored_ids == listed_ids
    assert not eng.apply_batch(spark, events_df(spark, events), epoch=0)["applied"]
    assert listed_and_stored(eng.table())[1] == stored


def test_deleted_key_stays_deleted_after_late_older_event(spark, tmp_path):
    """A delete event is merged as a tombstone carrying its seq: an update
    with an older seq arriving in a later epoch loses to it."""
    import datetime as dt

    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=4)
    eng.bootstrap(spark, spark.createDataFrame(
        [("r", "p", "c0", "py", "v0")],
        "repo string, path string, commit string, lang string, content string"))
    ts = dt.datetime(2024, 1, 1)

    def event(seq, op, content):
        return spark.createDataFrame(
            [(seq, ts, op, "r", "p", f"c{seq}", "py", content, None)], EVENT_SPARK_SCHEMA)

    eng.apply_batch(spark, event(8, "delete", None), epoch=0)
    eng.apply_batch(spark, event(7, "update", "late"), epoch=1)
    assert eng.table().last_epoch() == 1
    rows = eng.table().read(spark).collect()
    assert [(r["repo"], r["path"], r["_seq"], r["_deleted"]) for r in rows] \
        == [("r", "p", 8, True)]
    assert eng.read_current(spark).count() == 0


def test_chunked_epochs_and_fence(spark, tmp_path, fixture):
    base, events, state, schema = fixture
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=8)
    eng.bootstrap(spark, base_df(spark, base))
    n_chunks = 5
    n = len(events)
    for c in range(n_chunks):
        chunk = events[c * n // n_chunks : (c + 1) * n // n_chunks]
        eng.apply_batch(spark, events_df(spark, chunk), epoch=c)
    # retried epoch (foreachBatch redelivery) must be a no-op
    res = eng.apply_batch(spark, events_df(spark, events[3 * n // 5 : 4 * n // 5]), epoch=3)
    assert not res["applied"] and res["reason"] == "epoch-fenced"
    # the bucket is the one file unit: each merge snapshot lists one file
    # per bucket, under its `__bucket=B` directory, with no slot
    merges = [s for s in eng.table().snapshots() if s["summary"]["operation"] == "merge"]
    assert len(merges) == n_chunks
    for s in merges:
        assert sorted(f["bucket"] for f in s["files"]) == list(range(8))
        assert all(f"__bucket={f['bucket']}" in f["path"].split(os.sep) and "slot" not in f
                   for f in s["files"])
    assert_final_state(spark, eng, state, schema)
    # lineage: one row set per epoch, counts sum to total events applied
    lin = eng.read_lineage(spark)
    per_epoch = {r["epoch"]: r["total"] for r in
                 lin.groupBy("epoch").agg(F.sum("event_count").alias("total")).collect()}
    assert set(per_epoch) == set(range(n_chunks))
    n_data_events = sum(1 for e in events if e["op"] not in
                        ("add_column", "rename_column", "widen_column"))
    assert sum(per_epoch.values()) == n_data_events  # incl. duplicate deliveries
    assert lin.where(F.col("snapshot_id").isNull()).count() == 0


def test_streaming_replay_with_resume(spark, tmp_path, fixture):
    base, events, state, schema = fixture
    events_dir = str(tmp_path / "events")
    write_event_chunks(events, events_dir, n_chunks=6)
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=8)
    eng.bootstrap(spark, base_df(spark, base))
    ckpt = str(tmp_path / "ckpt")

    # first run: only half the files exist → stream drains, then "crashes"
    q = eng.run_stream(spark, events_dir, ckpt, max_files_per_trigger=2)
    q.awaitTermination()
    # more of the binlog arrives; resume from checkpoint
    q2 = eng.run_stream(spark, events_dir, ckpt, max_files_per_trigger=2)
    q2.awaitTermination()
    # re-run once more: everything already processed → no state change
    snap_before = eng.table().current_snapshot()["snapshot_id"]
    q3 = eng.run_stream(spark, events_dir, ckpt)
    q3.awaitTermination()
    assert_final_state(spark, eng, state, schema)
    lin = eng.read_lineage(spark)
    assert lin.count() > 0


def test_content_expr_matches_python(spark):
    from datavec_spark.streaming.datagen import content_for

    df = spark.createDataFrame(
        [("org1/p1", "src/a.py", 7), ("org2/p9", "src/b.rs", 123456)],
        "repo string, path string, seq long",
    )
    got = df.select(content_expr(F.col("repo"), F.col("path"), F.col("seq")).alias("c")).collect()
    want = [content_for("org1/p1", "src/a.py", 7), content_for("org2/p9", "src/b.rs", 123456)]
    assert [r["c"] for r in got] == want


def test_run_stream_df_rate_shaped_source(spark, tmp_path):
    """Source-agnostic streaming entry: a rate-source stream mapped into
    the event schema (the Kafka-shaped path — any stream of change events
    works, not just the file tail). Events synthesized JVM-side with
    content_expr; final state must equal the same events replayed in
    batch."""
    from datavec_spark.streaming.replay import content_expr

    def event_cols(df):
        seq = (F.col("value") + 1).alias("seq")
        repo = F.concat(F.lit("org0/project"), (F.col("value") % 5).cast("string"))
        path = F.concat(F.lit("src/f_"), (F.col("value") % 7).cast("string"), F.lit(".py"))
        return df.select(
            seq,
            F.col("timestamp").alias("ts"),
            F.lit("insert").alias("op"),
            repo.alias("repo"), path.alias("path"),
            F.substring(F.sha2(F.concat_ws("|", repo, path), 256), 1, 40).alias("commit"),
            F.lit("python").alias("lang"),
            content_expr(repo, path, F.col("value") + 1).alias("content"),
            F.lit(None).cast(
                "struct<col_name:string,new_name:string,new_type:string>"
            ).alias("schema_change"),
        )

    # streaming run from the rate source
    eng = CdcEngine(str(tmp_path / "repos_stream"), num_buckets=4)
    eng.bootstrap(spark)
    rate = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
    q = eng.run_stream_df(spark, event_cols(rate), str(tmp_path / "ckpt"),
                          available_now=False)
    try:
        import time as _t
        deadline = _t.time() + 60
        while _t.time() < deadline:
            if int(eng.table().properties().get("cdc.last-epoch", "-1")) >= 1:
                break
            _t.sleep(1)
    finally:
        q.stop()
    got = {(r["repo"], r["path"], r["content_sha"])
           for r in eng.final_state_hashes(spark).collect()}
    assert len(got) > 0

    # batch replay of the SAME seq range must produce a superset-consistent
    # state: every streamed key's final content matches the batch replay
    max_seq = int(eng.table().read(spark).agg(F.max("_seq")).collect()[0][0])
    batch_events = event_cols(
        spark.range(0, max_seq).select(
            F.col("id").alias("value"),
            F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("id")).alias("timestamp"),
        )
    )
    eng2 = CdcEngine(str(tmp_path / "repos_batch"), num_buckets=4)
    eng2.bootstrap(spark)
    eng2.apply_batch(spark, batch_events, epoch=0)
    want = {(r["repo"], r["path"], r["content_sha"])
            for r in eng2.final_state_hashes(spark).collect()}
    assert got == want


def test_streaming_schema_evolution_across_restart(spark, tmp_path, fixture):
    """Round-3 verdict item #8: the schema-evolution chain must survive a
    checkpoint restart placed BETWEEN evolution events. Run 1 sees the
    binlog only through add_column + the stars→stargazers rename (chunks
    0-2 of 6); the engine is then stopped, the rest of the log (widen to
    long + lang→language rename) arrives, and a fresh run_stream resumes
    from the same checkpoint. Final schema AND per-row content sha256 must
    match the pure-Python oracle."""
    import shutil

    base, events, state, schema = fixture
    staging = str(tmp_path / "staging")
    files = write_event_chunks(events, staging, n_chunks=6)
    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)

    def arrive(fs, t0):
        # shutil.copy stamps NOW as mtime — near-identical for files copied
        # in a tight loop, and the file source orders triggers by mtime, so
        # chunk order (add before rename before widen) could flip; restamp
        # with strictly increasing mtimes in chunk order
        for i, f in enumerate(fs):
            dst = shutil.copy(f, events_dir)
            os.utime(dst, (t0 + i, t0 + i))

    arrive(files[:3], 1_600_000_000)

    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=8)
    eng.bootstrap(spark, base_df(spark, base))
    ckpt = str(tmp_path / "ckpt")
    q = eng.run_stream(spark, events_dir, ckpt, max_files_per_trigger=1)
    q.awaitTermination()

    # mid-log checkpointed state: add + rename applied, widen NOT yet
    mid = {f.name: f.dataType.simpleString()
           for f in eng.read_current(spark).schema.fields}
    assert "stargazers" in mid and mid["stargazers"] == "int"
    assert "stars" not in mid and "lang" in mid

    # the rest of the binlog arrives; resume from the same checkpoint
    arrive(files[3:], 1_600_000_100)
    q2 = eng.run_stream(spark, events_dir, ckpt, max_files_per_trigger=1)
    q2.awaitTermination()
    assert_final_state(spark, eng, state, schema)


def test_data_only_epoch_runs_one_query(spark, tmp_path, fixture):
    """A data-only epoch runs one Spark query, the merge: two jobs under
    AQE (its shuffle map stage and its result). Lineage, the late count and
    the schema-op check ride on it, and its one metadata commit carries
    them: the epoch adds exactly one `v{N}.json`, and bootstrap creates no
    second table."""
    base, events, _state, _schema = fixture
    data = data_events(events)
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=8)
    eng.bootstrap(spark, base_df(spark, base))
    assert os.listdir(tmp_path) == ["repos"]
    meta_dir = os.path.join(eng.table_location, "metadata")

    def versions():
        return {f for f in os.listdir(meta_dir) if re.fullmatch(r"v\d+\.json", f)}

    half = len(data) // 2
    eng.apply_batch(spark, events_df(spark, data[:half]), epoch=0)
    batch = events_df(spark, data[half:])
    before = versions()
    res, jobs = jobs_in_group(spark, "data-only-epoch",
                              lambda: eng.apply_batch(spark, batch, epoch=1, drop_late=True))
    assert res["applied"]
    assert jobs == 2
    assert len(versions() - before) == 1 and before < versions()
    lin = eng.read_lineage(spark).where("epoch = 1").agg(F.sum("event_count")).collect()[0][0]
    assert lin == len(data) - half


def test_epochs_that_advance_the_watermark_compile_nothing(spark, tmp_path, fixture):
    """The late cut travels in the merge tasks' plan, not in the query: two
    epochs that each advance cdc.max-ts-us compile the same code, so the
    second compiles no class."""
    base, events, _state, _schema = fixture
    data = data_events(events)
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=8)
    eng.bootstrap(spark, base_df(spark, base))
    thirds = [data[i * len(data) // 3:(i + 1) * len(data) // 3] for i in range(3)]
    marks, counts = [], []
    for epoch, chunk in enumerate(thirds):
        batch = events_df(spark, chunk)
        c0 = compiles(spark)
        eng.apply_batch(spark, batch, epoch=epoch, late_delay_seconds=3600, drop_late=True)
        counts.append(compiles(spark) - c0)
        marks.append(int(eng.table().properties()["cdc.max-ts-us"]))
    assert marks[0] < marks[1] < marks[2]
    assert counts[2] == 0, counts


@pytest.mark.parametrize("null_col", ["path", "seq"])
def test_null_key_or_seq_is_refused_before_commit(spark, tmp_path, null_col):
    """A data event with a null key column or a null seq cannot be merged:
    the merge tasks count both, and apply_batch raises before the commit,
    naming the epoch and both counts. Nothing is committed, no lineage is
    written and no staged file is left."""
    import datetime as dt

    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=4)
    eng.bootstrap(spark, spark.createDataFrame(
        [("r", "p", "c0", "py", "v0")],
        "repo string, path string, commit string, lang string, content string"))
    before = eng.table().current_snapshot()["snapshot_id"]
    data_dir = os.path.join(eng.table_location, "data")
    written = set(os.listdir(data_dir))
    ts = dt.datetime(2024, 1, 1)
    bad = {"path": (3, ts, "update", "r", None, "c3", "py", "v3", None),
           "seq": (None, ts, "update", "r", "q", "c3", "py", "v3", None)}[null_col]
    batch = spark.createDataFrame(
        [(1, ts, "insert", "r", "a", "c1", "py", "v1", None),
         (2, ts, "update", "r", "p", "c2", "py", "v2", None), bad], EVENT_SPARK_SCHEMA)
    counts = {"path": (1, 0), "seq": (0, 1)}[null_col]
    with pytest.raises(ValueError, match=re.escape(
            f"merge_cdc epoch 7: {counts[0]} change rows have a null key column "
            f"['repo', 'path'] and {counts[1]} a null _seq")):
        eng.apply_batch(spark, batch, epoch=7)
    assert eng.table().current_snapshot()["snapshot_id"] == before
    assert eng.table().last_epoch() == -1
    assert eng.read_lineage(spark).count() == 0
    assert set(os.listdir(data_dir)) == written


def test_merge_summary_counts_winners_and_tombstones(spark, tmp_path):
    """The merge snapshot's `winners` (change rows that won their key) and
    `tombstones` (winning deletes) equal a DuckDB recount over the parent
    and merged snapshots' files: a key's row in the merged snapshot is a
    winner when the parent has no row with its seq."""
    import datetime as dt

    import duckdb

    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=4)
    eng.bootstrap(spark, spark.createDataFrame(
        [("r", f"p{i}", "c0", "py", "v0") for i in range(6)],
        "repo string, path string, commit string, lang string, content string"))
    ts = dt.datetime(2024, 1, 1)
    rows = [(1, "update", "p0"), (2, "update", "p0"),   # two changes, one winner
            (3, "delete", "p1"),                         # winning tombstone
            (4, "insert", "n0"), (5, "delete", "n1"),    # new key, new tombstone
            (0, "update", "p2")]                         # loses the tie to the stored row
    eng.apply_batch(spark, spark.createDataFrame(
        [(s, ts, op, "r", p, f"c{s}", "py", None if op == "delete" else f"v{s}", None)
         for s, op, p in rows], EVENT_SPARK_SCHEMA), epoch=0)
    t = eng.table()
    parent, merged = t.snapshots()[-2:]

    def files(snap):
        return "[" + ", ".join(f"'{os.path.join(t.location, f['path'])}'"
                               for f in snap["files"]) + "]"

    won = duckdb.sql(
        f"SELECT count(*), count(*) FILTER (WHERE n._deleted) "
        f"FROM read_parquet({files(merged)}) n "
        f"WHERE NOT EXISTS (SELECT 1 FROM read_parquet({files(parent)}) o "
        f"WHERE o.repo = n.repo AND o.path = n.path AND o._seq = n._seq)").fetchone()
    summary = merged["summary"]
    assert (summary["winners"], summary["tombstones"]) == won == (4, 2)


def test_stateless_stream_exactly_once_with_resume(spark, tmp_path, fixture):
    """NO stateful operator in the stream — exactly-once must
    hold from the epoch fence + seq-idempotent merge alone (the verdict's
    'measure whether the fence alone holds' experiment). The fixture has
    ~2% duplicate re-deliveries, stragglers 50 min late, and delete/
    reinsert chains; at a 120-minute SLA nothing is droppable, so the
    final state must equal the full LWW oracle exactly — across a crash/
    resume (checkpoint redelivery) and a third no-op run. The fixture's
    jitter and stragglers stay inside the delay, so this also pins zero
    drops at delay ≥ the source's lateness bound."""
    base, events, state, schema = fixture
    events_dir = str(tmp_path / "events")
    write_event_chunks(events, events_dir, n_chunks=6)
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=8)
    eng.bootstrap(spark, base_df(spark, base))
    ckpt = str(tmp_path / "ckpt")

    q = eng.run_stream(spark, events_dir, ckpt, max_files_per_trigger=2)
    q.awaitTermination()
    q2 = eng.run_stream(spark, events_dir, ckpt, max_files_per_trigger=2)
    q2.awaitTermination()
    snap_before = eng.table().current_snapshot()["snapshot_id"]
    q3 = eng.run_stream(spark, events_dir, ckpt)
    q3.awaitTermination()
    assert eng.table().current_snapshot()["snapshot_id"] == snap_before
    assert_final_state(spark, eng, state, schema)
    # nothing was droppable at this SLA — exact accounting agrees
    assert eng.lineage_drop_totals(spark)["rows_dropped_late"] == 0


def test_stateless_stream_drops_far_late_dups_into_lineage(spark, tmp_path):
    """A tight SLA: far-late duplicate re-deliveries are dropped by the
    APPLY stage and the exact count lands in lineage's dropped_late column
    (per epoch/bucket). The drops are lossless: every dropped row
    is a re-delivery whose original already committed, so the final state
    still equals the full LWW oracle."""
    base = generate_base_rows(150, n_repos=30, paths_per_repo=25)
    events = generate_events(N_EVENTS, n_repos=30, paths_per_repo=25,
                             delay_us=2_000_000, straggler_frac=0.0,
                             dup_frac=0.0)
    # re-deliver the first 50 data events at the very END of the stream:
    # their event time is ~2 min older than the stream max — far beyond
    # the 10 s SLA — so all 50 must be dropped (and only them: jitter is
    # ±1 s and chunk-boundary skew ~2 s, both inside 10 s)
    redelivered = [e for e in events[:60]
                   if e["op"] in ("insert", "update", "delete")][:50]
    emission = events + redelivered
    state, schema = oracle_replay(base, events)

    events_dir = str(tmp_path / "events")
    write_event_chunks(emission, events_dir, n_chunks=6)
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=4)
    eng.bootstrap(spark, base_df(spark, base))
    q = eng.run_stream(spark, events_dir, str(tmp_path / "ckpt"),
                       late_delay_seconds=10, max_files_per_trigger=1)
    q.awaitTermination()

    drops = eng.lineage_drop_totals(spark)
    assert drops["rows_dropped_late"] == len(redelivered), drops
    lin = eng.read_lineage(spark)
    # dropped_late == late_count on every lineage row (the stateless path
    # drops exactly what it counts late), concentrated in the last epoch
    bad = lin.where(F.col("dropped_late") != F.col("late_count")).count()
    assert bad == 0
    assert_final_state(spark, eng, state, schema)


def test_replay_on_16_buckets_matches_oracle_and_prunes_files(spark, tmp_path, fixture):
    """End-to-end CDC replay on a 16-bucket table: (a) the final state
    equals the LWW oracle after chunked epochs, and (b) a single-key delta
    epoch rewrites one bucket's file and carries every other file."""
    base, events, state, schema = fixture
    eng = CdcEngine(str(tmp_path / "repos16"), num_buckets=16)
    eng.bootstrap(spark, base_df(spark, base))

    # (a) chunked replay -> oracle equality
    n = len(events)
    for c in range(4):
        eng.apply_batch(spark, events_df(spark, events[c * n // 4:(c + 1) * n // 4]), epoch=c)
    assert_final_state(spark, eng, state, schema)

    # (b) small-delta epoch: one file rewritten, every other one carried
    files_before = {f["path"] for f in eng.table().current_snapshot()["files"]}
    one = [e for e in events if e["op"] == "update"][0]
    delta = dict(one)
    delta["seq"] = n + 100
    delta["content"] = "new content after the replay"
    eng.apply_batch(spark, events_df(spark, [delta]), epoch=4)
    snap = eng.table().current_snapshot()
    files_after = {f["path"] for f in snap["files"]}
    assert snap["summary"]["rewritten-files"] == 1
    assert len(files_before - files_after) == 1
    assert len(files_before & files_after) == len(files_before) - 1 == 15
    got = {(r["repo"], r["path"]): r for r in eng.read_current(spark).collect()}
    assert got[(delta["repo"], delta["path"])]["content"] == "new content after the replay"


def test_epoch_metrics_in_merge_summary(spark, tmp_path):
    """Each merge snapshot's summary carries its epoch's metrics, at no
    extra job: rows and bytes written equal the new files' pyarrow footers
    and sizes, events in and late drops equal the epoch's lineage rows.
    Epoch 1 re-delivers 50 early events far beyond a 10 s SLA, so its
    late-dropped is 50."""
    import pyarrow.parquet as pq

    base = generate_base_rows(150, n_repos=30, paths_per_repo=25)
    events = generate_events(N_EVENTS, n_repos=30, paths_per_repo=25,
                             delay_us=2_000_000, straggler_frac=0.0, dup_frac=0.0)
    redelivered = [e for e in events[:60] if e["op"] in ("insert", "update", "delete")][:50]
    state, schema = oracle_replay(base, events)
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=4)
    eng.bootstrap(spark, base_df(spark, base))
    half = len(events) // 2
    eng.apply_batch(spark, events_df(spark, events[:half]), epoch=0)
    eng.apply_batch(spark, events_df(spark, events[half:] + redelivered), epoch=1,
                    late_delay_seconds=10, drop_late=True)
    assert_final_state(spark, eng, state, schema)

    lin = eng.read_lineage(spark).groupBy("epoch").agg(
        F.sum("event_count").alias("events"), F.sum("dropped_late").alias("dropped")).collect()
    lin = {r["epoch"]: (r["events"], r["dropped"]) for r in lin}
    t = eng.table()
    snaps = t.snapshots()
    merges = [(p, s) for p, s in zip(snaps, snaps[1:]) if s["summary"]["operation"] == "merge"]
    assert [s["summary"]["epoch"] for _, s in merges] == [0, 1]
    for parent, snap in merges:
        summary = snap["summary"]
        old = {f["path"] for f in parent["files"]}
        new = [f for f in snap["files"] if f["path"] not in old]
        paths = [os.path.join(t.location, f["path"]) for f in new]
        assert summary["added-records"] == sum(pq.read_metadata(p).num_rows for p in paths) \
            == sum(f["record_count"] for f in new) > 0
        assert summary["added-files-size"] == sum(os.path.getsize(p) for p in paths) \
            == sum(f["file_size_in_bytes"] for f in new)
        assert (summary["events-in"], summary["late-dropped"]) == lin[summary["epoch"]]
        assert summary["merge-ms"] > 0 and "stats-ms" not in summary
    assert merges[1][1]["summary"]["late-dropped"] == len(redelivered)


def _crash_in_before_commit(m):
    merge = IceliteTable.merge_cdc

    def faulty(self, *args, before_commit, **kwargs):
        def crash(buckets):
            before_commit(buckets)
            raise RuntimeError("crash after the merge query")
        return merge(self, *args, before_commit=crash, **kwargs)

    m.setattr(IceliteTable, "merge_cdc", faulty)


def _crash_at(m, name, hits):
    real = getattr(os, name)

    def crash(src, dst, *args, **kwargs):
        if hits(str(dst)):
            raise RuntimeError(f"crash at os.{name}({dst})")
        return real(src, dst, *args, **kwargs)

    m.setattr(os, name, crash)


# the three points of an epoch's one commit: the commit decision, the
# metadata link (after the data files are written) and the hint swing
# (after the link). Merge tasks write their files in Python workers, which
# the driver's patches do not reach.
CRASH_POINTS = {
    "before_commit": _crash_in_before_commit,
    "metadata_link": lambda m: _crash_at(m, "link", lambda dst: dst.endswith(".json")),
    "hint_replace": lambda m: _crash_at(m, "replace", lambda dst: dst.endswith("version-hint.text")),
}


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_crash_matrix_resumes_to_one_commit(spark, tmp_path, fixture, monkeypatch, point):
    """An epoch crashed at any point of its one commit resumes to the
    oracle state, with exactly one lineage row per (epoch, bucket) that
    received events, all from the snapshot that committed the epoch, and
    data/ holds no file that no snapshot lists. A crash before the link
    leaves nothing, so the resumed epoch merges; a crash after it leaves
    the epoch committed, so the resumed epoch is fenced."""
    base, events, _state, _schema = fixture
    data = data_events(events)
    state, schema = oracle_replay(base, data)
    chunks = [data[:len(data) // 2], data[len(data) // 2:]]
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=4)
    eng.bootstrap(spark, base_df(spark, base))
    eng.apply_batch(spark, events_df(spark, chunks[0]), epoch=0)
    batch = events_df(spark, chunks[1])
    with monkeypatch.context() as m:
        CRASH_POINTS[point](m)
        with pytest.raises(RuntimeError, match="crash"):
            eng.apply_batch(spark, batch, epoch=1)
    res = eng.apply_batch(spark, batch, epoch=1)
    assert res["applied"] == (point != "hint_replace")
    assert_final_state(spark, eng, state, schema)
    t = eng.table()
    commits = {s["summary"]["epoch"]: s["snapshot_id"] for s in t.snapshots()
               if s["summary"].get("epoch") is not None}
    assert sorted(commits) == [0, 1]
    rows = eng.read_lineage(spark).collect()
    assert len({(r["epoch"], r["partition"]) for r in rows}) == len(rows)
    assert all(r["event_count"] > 0 and r["snapshot_id"] == commits[r["epoch"]] for r in rows)
    assert {e: sum(r["event_count"] for r in rows if r["epoch"] == e) for e in (0, 1)} \
        == {e: len(c) for e, c in enumerate(chunks)}
    listed, stored, listed_ids, stored_ids = listed_and_stored(t)
    assert stored == listed and stored_ids == listed_ids


def test_all_late_epoch_commits_its_drops_and_fences_its_redelivery(spark, tmp_path):
    """An epoch whose every event is far late commits one snapshot with its
    parent's file list. It records the drops in lineage and advances
    cdc.last-epoch, so its redelivery is fenced and starts no Spark job.
    lineage_drop_totals reads the table's running totals, with no Spark job."""
    base = generate_base_rows(150, n_repos=30, paths_per_repo=25)
    events = generate_events(N_EVENTS, n_repos=30, paths_per_repo=25,
                             delay_us=2_000_000, straggler_frac=0.0, dup_frac=0.0)
    data = data_events(events)
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=4)
    eng.bootstrap(spark, base_df(spark, base))
    eng.apply_batch(spark, events_df(spark, data), epoch=0)
    parent = eng.table().current_snapshot()
    # the first 50 events again, ~2 min older than the watermark: all late
    batch = events_df(spark, data[:50])

    def epoch1():
        return eng.apply_batch(spark, batch, epoch=1, late_delay_seconds=10, drop_late=True)

    res = epoch1()
    t = eng.table()
    snap = t.current_snapshot()
    assert res["applied"] and res["snapshot_id"] == snap["snapshot_id"] == parent["snapshot_id"] + 1
    assert snap["files"] == parent["files"]
    assert t.last_epoch() == 1
    assert (snap["summary"]["events-in"], snap["summary"]["late-dropped"]) == (50, 50)
    lin = eng.read_lineage(spark).where("epoch = 1").collect()
    assert sum(r["dropped_late"] for r in lin) == 50
    assert {r["snapshot_id"] for r in lin} == {snap["snapshot_id"]}
    totals, jobs = jobs_in_group(spark, "drop-totals", lambda: eng.lineage_drop_totals(spark))
    assert (totals["rows_dropped_late"], jobs) == (50, 0)
    res, jobs = jobs_in_group(spark, "all-late-redelivery", epoch1)
    assert (res["applied"], res["reason"], jobs) == (False, "epoch-fenced", 0)
    assert len(eng.table().snapshots()) == len(t.snapshots())


def test_lineage_has_the_snapshots_retention(spark, tmp_path, fixture, monkeypatch):
    """Lineage rides in the merge snapshots, so it is retained with them:
    with a HISTORY of 2, after 4 epochs read_lineage returns exactly the
    epochs of the 2 retained snapshots, while the drop totals, running
    table properties, still count every epoch's events."""
    from datavec_spark.sources import icelite

    monkeypatch.setattr(icelite, "HISTORY", 2)
    _base, events, _state, _schema = fixture
    data = data_events(events)
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=2)
    eng.bootstrap(spark)
    for e in range(4):
        eng.apply_batch(spark, events_df(spark, data[e * len(data) // 4:(e + 1) * len(data) // 4]),
                        epoch=e)
    assert sorted({r["epoch"] for r in eng.read_lineage(spark).collect()}) == [2, 3]
    assert eng.lineage_drop_totals(spark)["rows_arrived"] == len(data)


def test_history_window_keeps_lineage_and_all_time_drop_totals(spark, tmp_path, monkeypatch):
    """12 stream epochs (drop_late=True) with a HISTORY of 4, three of them
    re-delivering early events far beyond a 10 s SLA: 4 snapshots remain,
    read_lineage returns their epochs, lineage_drop_totals equals the sums
    of all 12 epochs' tallies and starts no Spark job, data/ holds no file
    that no snapshot lists, and the state still equals the oracle."""
    from datavec_spark.sources import icelite

    monkeypatch.setattr(icelite, "HISTORY", 4)
    base = generate_base_rows(150, n_repos=30, paths_per_repo=25)
    data = data_events(generate_events(N_EVENTS, n_repos=30, paths_per_repo=25,
                                       delay_us=2_000_000, straggler_frac=0.0, dup_frac=0.0))
    state, schema = oracle_replay(base, data)
    late = {4: data[:20], 7: data[20:50], 10: data[50:60]}
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=4)
    eng.bootstrap(spark, base_df(spark, base))
    sums = {"rows_arrived": 0, "rows_late": 0, "rows_dropped_late": 0}
    for e in range(12):
        chunk = data[e * len(data) // 12:(e + 1) * len(data) // 12] + late.get(e, [])
        res = eng.apply_batch(spark, events_df(spark, chunk), epoch=e,
                              late_delay_seconds=10, drop_late=True)
        for name, col in (("rows_arrived", "changes"), ("rows_late", "late"),
                          ("rows_dropped_late", "dropped")):
            sums[name] += sum(b[col] for b in res["buckets"])
    assert sums == {"rows_arrived": len(data) + 60, "rows_late": 60, "rows_dropped_late": 60}
    t = eng.table()
    assert [s["summary"]["epoch"] for s in t.snapshots()] == [8, 9, 10, 11]
    assert sorted({r["epoch"] for r in eng.read_lineage(spark).collect()}) == [8, 9, 10, 11]
    totals, jobs = jobs_in_group(spark, "window-totals", lambda: eng.lineage_drop_totals(spark))
    assert (totals, jobs) == (sums, 0)
    listed, stored, listed_ids, stored_ids = listed_and_stored(t)
    assert stored == listed and stored_ids == listed_ids
    assert len(os.listdir(os.path.join(t.location, "metadata"))) <= 4 + 1
    assert_final_state(spark, eng, state, schema)


def test_crash_after_a_schema_op_commit_applies_each_op_once(spark, tmp_path, fixture,
                                                             monkeypatch):
    """The whole log as one epoch, crashed right after its first schema-op
    commit, then resumed: the resumed epoch applies only the ops above the
    cdc.schema-seq fence, so each op is applied once, the state and schema
    equal the oracle, and the epoch has exactly one merge snapshot."""
    from datavec_spark.streaming.replay import SCHEMA_OPS

    base, events, state, schema = fixture
    ops = sorted({e["seq"] for e in events if e["op"] in SCHEMA_OPS})
    assert len(ops) >= 2
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=4)
    eng.bootstrap(spark, base_df(spark, base))
    batch = events_df(spark, events)
    evolve = IceliteTable._evolve

    def crash(self, *args, **kwargs):
        evolve(self, *args, **kwargs)
        raise RuntimeError("crash after a schema-op commit")

    with monkeypatch.context() as m:
        m.setattr(IceliteTable, "_evolve", crash)
        with pytest.raises(RuntimeError, match="crash"):
            eng.apply_batch(spark, batch, epoch=0)
    t = eng.table()
    assert (len(t.metadata()["schemas"]), t.properties()["cdc.schema-seq"]) == (2, str(ops[0]))
    assert eng.apply_batch(spark, batch, epoch=0)["applied"]
    assert_final_state(spark, eng, state, schema)
    t = eng.table()
    assert (len(t.metadata()["schemas"]), t.properties()["cdc.schema-seq"]) \
        == (1 + len(ops), str(ops[-1]))
    assert [(s["summary"]["operation"], s["summary"].get("epoch")) for s in t.snapshots()] \
        == [("overwrite", None), ("merge", 0)]
    listed, stored, listed_ids, stored_ids = listed_and_stored(t)
    assert stored == listed and stored_ids == listed_ids


def test_final_state_hashes_loads_metadata_once(spark, tmp_path, fixture, monkeypatch):
    """final_state_hashes pairs the field map with the files it reads from
    one metadata load, so a schema commit landing mid-call cannot mix two
    versions."""
    base, _events, _state, _schema = fixture
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=2)
    eng.bootstrap(spark, base_df(spark, base))
    loads = []
    real = IceliteTable._load

    def counting(self):
        loads.append(1)
        return real(self)

    monkeypatch.setattr(IceliteTable, "_load", counting)
    hashes = eng.final_state_hashes(spark)
    assert len(loads) == 1
    monkeypatch.undo()
    assert hashes.count() == len(base)


def test_over_cap_merge_group_fails_loudly_and_commits_nothing(spark, tmp_path, fixture,
                                                               monkeypatch):
    """A merge group is held in memory whole, so the driver caps its bytes
    from host memory and cores. Over the cap, the epoch fails with an error
    naming the epoch, the bucket, the bytes, the cap and the num_buckets
    that would fit, commits nothing and leaves no files; at the
    normal cap the same epoch then replays to the oracle state."""
    from datavec_spark.sources import icelite

    base, events, state, schema = fixture
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=4)
    eng.bootstrap(spark, base_df(spark, base))
    before = eng.table().current_snapshot()["snapshot_id"]
    data_dir = os.path.join(eng.table_location, "data")
    written = set(os.listdir(data_dir))
    monkeypatch.setattr(icelite, "_group_byte_cap", lambda: 1000)
    with pytest.raises(Exception) as err:
        eng.apply_batch(spark, events_df(spark, events), epoch=0)
    assert re.search(r"merge_cdc epoch 0: bucket \d holds \d+ bytes, "
                     r"over the per-group cap of 1000 bytes; "
                     r"a table with num_buckets >= \d+ would fit", str(err.value))
    assert eng.table().current_snapshot()["snapshot_id"] == before
    assert eng.table().last_epoch() == -1
    assert set(os.listdir(data_dir)) == written  # the failed merge's files are removed
    monkeypatch.undo()
    assert eng.apply_batch(spark, events_df(spark, events), epoch=0)["applied"]
    assert_final_state(spark, eng, state, schema)


def test_run_stream_rejects_stateful_dedup(spark, tmp_path):
    """The stateful dedup stage is gone: dedup=True fails loudly before
    any stream starts; dedup=False is the default and the only shape."""
    eng = CdcEngine(str(tmp_path / "repos"))
    with pytest.raises(ValueError, match="stateful dedup"):
        eng.run_stream(spark, str(tmp_path / "events"), str(tmp_path / "ckpt"),
                       dedup=True)


def test_null_deleted_flag_is_live_in_current_view_and_changelog(spark, tmp_path):
    """A merge_cdc caller whose change rows leave out `_deleted` stores a
    null flag; every reader treats that row as live."""
    eng = CdcEngine(str(tmp_path / "repos"), num_buckets=2)
    eng.bootstrap(spark, spark.createDataFrame(
        [("r", "p", "c0", "py", "v0")],
        "repo string, path string, commit string, lang string, content string"))
    t = eng.table()
    s0 = t.current_snapshot()["snapshot_id"]
    t.merge_cdc(spark, spark.createDataFrame(
        [("r", "q", "c1", "py", "v1", 1)],
        "repo string, path string, commit string, lang string, content string, _seq long"),
        epoch=0)
    assert [r["_deleted"] for r in t.read(spark).where("path = 'q'").collect()] == [None]
    assert sorted(r["path"] for r in eng.read_current(spark).collect()) == ["p", "q"]
    changes = t.read_changes(spark, from_snapshot_id=s0).collect()
    assert [(r["path"], r["_change_type"]) for r in changes] == [("q", "upsert")]
