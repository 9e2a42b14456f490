"""`cdc` workload: one seeded change log, two ingest shapes.

1. Backfill. All of the log but its last few small files (32 large files)
   is applied with `CdcEngine.apply_batch` in two large epochs (equal file
   ranges, so equal emission-order seq ranges) into a 16-bucket
   copy-on-write table. Then a closed-loop, single-client read phase: one
   `read_changes` poll per pair of consecutive epoch snapshots, and seeded
   `read_current` key lookups (hot, cold, deleted and absent keys).
2. Set-up, timed as SETUPS same-JVM session restarts, each followed by a
   `CdcEngine.bootstrap` of a fresh table from the 50k-row base.
3. Live tail. On the last set-up's table, the stateless
   `run_stream(dedup=False, available_now=False)` tails a watched
   directory. Once the stream's first (empty) trigger has completed, one
   generator thread moves the small files in on a fixed open-loop
   schedule, at half the drain capacity measured for the live path, so
   each file finds the stream idle and is applied in an epoch of its own.
   The first file is a warm-up: its epoch pays the stream's first-epoch
   costs and is left out of the freshness figures. A file's freshness runs
   from its due time to the wall time the snapshot of the epoch that
   consumed it was committed.

The state after the backfill, and after the live tail, is checked against
the DuckDB last-writer-wins reference over the base and the same files.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

from perfbench import data
from perfbench.common import median, tail, timed

# ~4.8k of the ~77k backfilled rows per bucket file. At 64 buckets (~1.2k
# rows per file) per-file costs made every phase ~30% slower (README.md).
NUM_BUCKETS = 16
BACKFILL_EPOCHS = 2
LOOKUPS = 16
SETUPS = 3
# Half the drain capacity of the live path: with one ~1k-event file per
# epoch, run_stream drained 0.28 files/s (a trigger every ~3.5 s) into a
# fresh 16-bucket table on a 4-core host after a warm-up trigger; README.md.
LIVE_FILES_PER_S = 0.14
DRAIN_S = 30.0  # how long a dropped file may take to commit


def run(ctx) -> dict:
    from datavec_spark.sources.icelite import IceliteTable
    from datavec_spark.streaming.replay import CdcEngine

    gen_s, info = timed(data.cdc_fixture, ctx.cache, ctx.seed)
    spark = ctx.start_session()
    tr = ctx.tracer
    group = (lambda g: ctx.spark.sparkContext.setJobGroup(g, g)) if tr.enabled else (lambda g: None)
    ev_dir = os.path.join(info["dir"], "events")
    base_path = os.path.join(info["dir"], "base")
    if tr.enabled:
        tr.wrap(CdcEngine, "apply_batch", "replay.apply_batch")
        tr.wrap(IceliteTable, "merge_cdc", "icelite.merge_cdc")
        tr.wrap(IceliteTable, "append_rows_local", "icelite.append_rows_local")
        tr.wrap(IceliteTable, "read_changes", "icelite.read_changes_call")
        tr.wrap(IceliteTable, "read", "icelite.read_call")
        tr.wrap(IceliteTable, "metadata", "icelite.metadata")

    def bootstrap(name: str) -> CdcEngine:
        eng = CdcEngine(os.path.join(ctx.work, name, "repos"), num_buckets=NUM_BUCKETS)
        group("setup")
        eng.bootstrap(ctx.spark, ctx.spark.read.parquet(base_path))
        return eng

    boot_s, eng = timed(bootstrap, "backfill")

    # -- backfill ------------------------------------------------------------
    files = [os.path.join(ev_dir, f) for f in info["backfill_files"]]
    chunks = [files[i * len(files) // BACKFILL_EPOCHS:(i + 1) * len(files) // BACKFILL_EPOCHS]
              for i in range(BACKFILL_EPOCHS)]
    group("backfill")
    marks = {"start": time.perf_counter()}
    backfill_s = timed(replay, spark, eng, chunks)[0]
    snaps = [s["snapshot_id"] for s in eng.table().snapshots()
             if s["summary"].get("epoch") is not None]
    mb_written = written_mb(eng.table())
    marks["backfill"] = time.perf_counter()

    # -- closed-loop reads ---------------------------------------------------
    group("reads")
    keys = data.lookup_keys(info, ctx.seed, LOOKUPS)
    polls, lookups, lookup_misses = read_phase(spark, eng, snaps, keys, tr)
    failed = len(lookup_misses)
    backfill_ok = state_matches(eng.table(), os.path.join(info["dir"], "ref_backfill.parquet"))
    marks["reads"] = time.perf_counter()

    # -- set-up: the same operation SETUPS times -----------------------------
    setups = []
    for i in range(SETUPS):
        dt, (_, live) = timed(lambda: (ctx.restart(), bootstrap(f"setup{i}")))
        setups.append(dt)
    marks["setup"] = time.perf_counter()

    # -- live tail, on the last set-up's table --------------------------------
    group("live")
    lv = live_tail(ctx, live, [os.path.join(ev_dir, f) for f in info["live_files"]])
    failed += lv["uncommitted"]
    live_ok = state_matches(live.table(), os.path.join(info["dir"], "ref_live.parquet"))
    drops = live.lineage_drop_totals(ctx.spark)["rows_dropped_late"]
    drops_ok = drops <= info["dup_budget"]
    marks["live"] = time.perf_counter()

    fresh = lv["freshness"]
    f_tail, l_tail = tail(fresh), tail(lookups)
    named = {
        "backfill_events_per_s": info["backfill_events"] / backfill_s,
        "backfill_mb_written": mb_written,
        "changelog_poll_p50_s": median(polls),
        "lookup_p50_s": median(lookups), "lookup_tail_s": l_tail[1], "lookup_tail_pct": l_tail[0],
        "freshness_p50_s": median(fresh) if fresh else 0.0,
        # too few live files for a tail with ten samples beyond: reported as 0
        "freshness_tail_s": f_tail[1] if f_tail else 0.0,
        "freshness_tail_pct": f_tail[0] if f_tail else 0.0,
    }
    checks = {"backfill_state": backfill_ok, "live_state": live_ok,
              "late_drops_within_budget": drops_ok}
    result = {
        "attempted": BACKFILL_EPOCHS + len(polls) + len(lookups) + lv["dropped"],
        "failed": failed + sum(not ok for ok in checks.values()),
        "e2e": {"setup_s": median(setups), "cold_s": backfill_s,
                "steady_s": named["freshness_p50_s"]},
        "named": named,
        "detail": {"fixture_s": gen_s, "session_start_s": ctx.session_start_s,
                   "first_bootstrap_s": boot_s,
                   "phase_end_s": {k: v - marks["start"] for k, v in marks.items()},
                   "setups_s": setups, "polls_s": polls,
                   "lookups_n": len(lookups), "lookup_misses": lookup_misses,
                   "checks": checks, "late_drops": drops, "dup_budget": info["dup_budget"],
                   "live": {k: v for k, v in lv.items() if k != "freshness"},
                   "live_freshness_s": fresh},
    }
    if tr.enabled:
        result["layers"] = layers(ctx, eng, live, lv, info, chunks, snaps, keys)
    return result


def replay(spark, eng, chunks: list[list[str]]) -> None:
    for e, paths in enumerate(chunks):
        eng.apply_batch(spark, spark.read.parquet(*paths), epoch=e)


def written_mb(table) -> float:
    """Sum of data-file sizes added by the merge commits (after bootstrap)."""
    seen, total = set(), 0
    for s in table.snapshots():
        paths = {f["path"] for f in s["files"]}
        if s["summary"].get("operation") == "merge":
            total += sum(os.stat(os.path.join(table.location, p)).st_size for p in paths - seen)
        seen |= paths
    return total / 1e6


def state_matches(table, ref_path: str) -> bool:
    """Whether the live rows of the table's current snapshot, read by DuckDB
    straight from the manifest's files, equal the reference final state as
    (repo, path, sha256(content)) multisets."""
    import duckdb

    files = ", ".join(f"'{os.path.join(table.location, f['path'])}'"
                      for f in table.current_snapshot()["files"])
    state = (f"SELECT repo, path, sha256(content) AS content_sha "
             f"FROM read_parquet([{files}]) WHERE NOT _deleted")
    ref = f"SELECT repo, path, content_sha FROM read_parquet('{ref_path}')"
    con = duckdb.connect()
    try:
        diff = con.execute(f"SELECT (SELECT count(*) FROM ({state} EXCEPT ALL {ref})) "
                           f"+ (SELECT count(*) FROM ({ref} EXCEPT ALL {state}))").fetchone()[0]
    finally:
        con.close()
    return diff == 0


def read_phase(spark, eng, snaps: list, keys: list, tr) -> tuple[list, list, list]:
    """Closed-loop single client: one read_changes poll per pair of
    consecutive epoch snapshots, then the key lookups on one read_current view of
    the last snapshot. Returns (poll times, lookup times, wrong lookups)."""
    from pyspark.sql import functions as F

    table = eng.table()
    polls = []
    for a, b in zip(snaps, snaps[1:]):
        with tr.span("icelite.read_changes"):
            polls.append(timed(lambda: table.read_changes(spark, a, b).count())[0])
    lookups, misses = [], []
    current = eng.read_current(spark)
    for repo, path, want in keys:
        with tr.span("icelite.read"):
            dt, got = timed(lambda: current
                            .where((F.col("repo") == repo) & (F.col("path") == path))
                            .select(F.sha2("content", 256)).collect())
        lookups.append(dt)
        if [r[0] for r in got] != ([want] if want else []):
            misses.append([repo, path])
    return polls, lookups, misses


# ---------------------------------------------------------------------------
# open-loop live tail
# ---------------------------------------------------------------------------


def live_tail(ctx, eng, files: list[str]) -> dict:
    """Once the stream's first trigger has completed, drop one file every
    1 / LIVE_FILES_PER_S seconds and wait for them all to commit; files[0]
    is the warm-up."""
    spark = ctx.spark
    staging = os.path.join(ctx.work, "staging")
    watched = os.path.join(ctx.work, "incoming")
    ckpt = os.path.join(ctx.work, "live_ckpt")
    os.makedirs(staging)
    os.makedirs(watched)
    for f in files:
        shutil.copyfile(f, os.path.join(staging, os.path.basename(f)))
    names = [os.path.basename(f) for f in files]
    lag: list[float] = []
    q = eng.run_stream(spark, watched, ckpt, dedup=False, available_now=False)
    try:
        t_start = time.time()
        while q.lastProgress is None and time.time() < t_start + DRAIN_S:
            time.sleep(0.05)
        first_trigger_s = time.time() - t_start
        t0 = time.time()
        due = {n: t0 + i / LIVE_FILES_PER_S for i, n in enumerate(names)}
        gen = threading.Thread(target=_generator, args=(staging, watched, due, lag))
        gen.start()
        gen.join(timeout=len(due) / LIVE_FILES_PER_S + 30)
        if gen.is_alive():
            raise RuntimeError("live generator did not finish")
        wait_committed(ckpt, eng, names, max(due.values()) + DRAIN_S)
        stop_by = time.time() + 5  # let the last trigger report its progress
        while q.status["isTriggerActive"] and time.time() < stop_by:
            time.sleep(0.05)
        progress = list(q.recentProgress)
    finally:
        q.stop()
    committed = commit_times(ckpt, eng.table(), eng.lineage_table())
    fresh = [committed[f] - due[f] for f in names[1:] if f in committed]
    warm_batch = source_log_batches(ckpt).get(names[0])
    triggers = [p for p in progress if p.get("numInputRows")]
    return {"dropped": len(names), "uncommitted": len(set(names) - set(committed)),
            "freshness": fresh, "first_trigger_s": first_trigger_s,
            "warmup_freshness_s": committed.get(names[0], due[names[0]]) - due[names[0]],
            "generator_lag_s": max(lag) if lag else 0.0,
            "epochs": len({p["batchId"] for p in triggers}),
            "trigger_s": [p["durationMs"]["triggerExecution"] / 1e3 for p in triggers
                          if p["batchId"] != warm_batch]}


def wait_committed(ckpt: str, eng, names: list[str], deadline: float) -> bool:
    """Poll until every named file's epoch has committed, or the deadline."""
    while True:
        done = commit_times(ckpt, eng.table(), eng.lineage_table())
        if all(n in done for n in names):
            return True
        if time.time() >= deadline:
            return False
        time.sleep(0.2)


def _generator(staging: str, watched: str, due: dict[str, float], lag: list[float]) -> None:
    """Move each file into the watched directory at its due time, stamping
    its mtime with the drop time (the file source orders by mtime)."""
    for name, t in sorted(due.items(), key=lambda kv: kv[1]):
        wait = t - time.time()
        if wait > 0:
            time.sleep(wait)
        dst = os.path.join(watched, name)
        os.rename(os.path.join(staging, name), dst)
        now = time.time()
        os.utime(dst, (now, now))
        lag.append(now - t)


def source_log_batches(ckpt: str) -> dict[str, int]:
    """File name -> batch id, from the stream checkpoint's file-source log
    (plain batch files and compacted `.compact` files alike)."""
    log_dir = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for f in os.listdir(log_dir):
        if f.startswith("."):
            continue
        with open(os.path.join(log_dir, f)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def epoch_commit_times(*tables) -> dict[int, float]:
    """Epoch -> wall time (s) of the first snapshot tagged with it; the data
    table first, then the lineage table for epochs that merged nothing."""
    out: dict[int, float] = {}
    for t in tables:
        for s in t.snapshots():
            e = s["summary"].get("epoch")
            if e is not None and e not in out:
                out[int(e)] = s["timestamp_ms"] / 1e3
    return out


def commit_times(ckpt: str, table, lineage) -> dict[str, float]:
    """File name -> commit wall time of the epoch that consumed it."""
    epochs = epoch_commit_times(table, lineage)
    return {f: epochs[b] for f, b in source_log_batches(ckpt).items() if b in epochs}


# ---------------------------------------------------------------------------
# per-layer numbers (traced run)
# ---------------------------------------------------------------------------


def layers(ctx, eng, live, lv: dict, info: dict, chunks, snaps, keys) -> dict:
    from pyspark.sql import functions as F

    from datavec_spark.streaming.replay import CdcEngine
    from perfbench.trace import Tracer, read_event_log

    tr = ctx.tracer
    selfs = tr.self_times()
    ev = read_event_log(ctx.event_log_dir)
    bf = ev.get("backfill", {})
    merges = [s["summary"] for t in (eng.table(), live.table()) for s in t.snapshots()
              if s["summary"].get("operation") == "merge"]
    per_epoch = [r[1] for r in live.read_lineage(ctx.spark).groupBy("epoch")
                 .agg(F.sum("event_count")).collect()]
    # metadata loads made by the engine's epochs, not by the benchmark's
    # own polling of the table (which has no enclosing engine span)
    meta_loads = sum(1 for s in tr.spans if s["name"] == "icelite.metadata" and s["parent"] is not None)
    out = {
        "icelite.merge_cdc_s": tr.totals("icelite.merge_cdc")[1],
        "replay.shuffle_mb": bf.get("shuffle_write_mb", 0.0),
        "icelite.files_rewritten": sum(m.get("rewritten-files", 0) for m in merges),
        "icelite.files_carried": sum(m.get("carried-files", 0) for m in merges),
        "replay.stats_self_s": selfs.get("replay.apply_batch", 0.0),
        "icelite.lineage_append_s": tr.totals("icelite.append_rows_local")[1],
        "icelite.metadata_loads": meta_loads,
        "replay.jobs_per_epoch": bf.get("jobs", 0) / BACKFILL_EPOCHS,
        "icelite.read_changes_s": tr.totals("icelite.read_changes")[1],
        "icelite.read_s": tr.totals("icelite.read")[1],
        "streaming.trigger_p50_s": median(lv["trigger_s"]) if lv["trigger_s"] else 0.0,
        "streaming.epochs": lv["epochs"],
        "streaming.rows_per_epoch": sum(per_epoch) / len(per_epoch) if per_epoch else 0.0,
        "live.generator_lag_s": lv["generator_lag_s"],
    }
    # tracing's own cost: the read phase once more with tracing on, then in
    # a fresh session without the event log, job groups or wrappers
    polls, lookups, _ = read_phase(ctx.spark, eng, snaps, keys, tr)
    traced_s = sum(polls) + sum(lookups)
    tr.close()
    polls, lookups, _ = read_phase(ctx.restart(traced=False), eng, snaps, keys, Tracer(False))
    out["trace.overhead_pct"] = 100.0 * (traced_s / (sum(polls) + sum(lookups)) - 1)
    # single-thread baseline for the same backfill, on a fresh table
    spark = ctx.restart(cores=1, traced=False)
    e1 = CdcEngine(os.path.join(ctx.work, "local1", "repos"), num_buckets=NUM_BUCKETS)
    e1.bootstrap(spark, spark.read.parquet(os.path.join(info["dir"], "base")))
    local1_s = timed(replay, spark, e1, chunks)[0]
    out["backfill.local1_events_per_s"] = info["backfill_events"] / local1_s
    return out
