"""Benchmark harness.

Default mode: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus a 500k-event CDC
batch-replay throughput measurement. Cores default to the CPUs this
process may run on and the heap ($SPARK_GRAFT_DRIVER_MEM) to a quarter of
RAM, between 2 and 8 GB; set either variable to override. Prints ONE JSON
line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "cdc_events_per_sec": ...}

--scaling: replays one CDC fixture as a batch and as a stream at N =
cores // 4 and 4N cores (local[N] and local[4N] stand in for N and 4N
executors; there is no real cluster), each trial in a fresh process with
the levels interleaved, and reports min-of-N throughput per level plus
efficiency = (rate_4N / rate_N) / 4. Needs at least 4 cores. Writes every
trial wall and the host facts to BENCH/scaling_latest.json. Launch via
scripts/submit_bench.sh for the spark-submit --py-files path.

--plans OUT_DIR [query ...]: write each query's formatted physical plan
(default: the headline queries) to OUT_DIR/<query>.txt.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from perfbench.common import heap_gb, host_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = host_cores()
BENCH_EVENTS = 500_000
# --scaling run size: on a 4-core / 15 GB host a worker takes minutes at
# local[1] or local[4], well inside the 2400 s worker timeout
SCALE_EVENTS = 4_000_000
SCALE_TRIALS = 3
STREAM_TRIGGERS = 4
STREAM_WARM_EVENTS = 400_000

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q10_returned_items",
    "reduce_multiop_orders",
    "window_lag_diff",
    "sessionize_events",
    "tumbling_hourly",
    "token_stats_by_lang",
    "ngram_jaccard_docs",
    "minhash_lsh_docs",
    "embedding_topk",
    # round-3 additions (suite total grows accordingly; round-over-round
    # comparison is per-query)
    "q7_volume_shipping",
    "q21_waiting_suppliers",
]


def _sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_query_suite(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # untimed warm-up: the first query of a fresh session otherwise pays
    # one-off session/codegen/page-cache costs (~4-5 s observed on q1 —
    # a 2-agg scan that subsequently runs in ~1-2 s), which would make
    # per-query times incomparable across rounds
    qs[HEADLINE[0]](spark, sf_dir).write.format("noop").mode("overwrite").save()
    from datavec_spark.cache import release_tracked

    times: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        times[name] = round(time.time() - t0, 3)
        # correctness-required persists (LSH signatures, two-phase cumsum
        # partitions) are registered with cache.track(); release them once
        # the query is materialized so one query's cache doesn't occupy
        # executor storage memory during the next query's timing
        release_tracked()
    return times


# ---------------------------------------------------------------------------
# CDC replay throughput
# ---------------------------------------------------------------------------

_FIXTURE_CACHE = os.path.join(tempfile.gettempdir(), "datavec_spark_bench_fixtures")


def cdc_fixture(spark, n_events: int, n_base: int, n_repos: int, paths_per_repo: int) -> str:
    """Generate (once, cached on disk) the bench event log + base rows —
    distributed via the JVM-side generator (no driver loop; the same path a
    10^10-event cluster fixture would use)."""
    # v2: dup re-deliveries interleave in emission order (near-dups shortly
    # after their originals, ~10% far-late) -> even trigger sizes; distinct
    # from the v1 all-dups-trailing layout cached under the unsuffixed key
    key = f"ev{n_events}_b{n_base}_r{n_repos}_p{paths_per_repo}_v2"
    out = os.path.join(_FIXTURE_CACHE, key)
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        _normalize_event_mtimes(os.path.join(out, "events"))
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    from pyspark.sql import functions as F

    from datavec_spark.streaming.datagen import events_df_spark
    from datavec_spark.streaming.replay import content_expr

    ev = events_df_spark(spark, n_events, n_repos=n_repos, paths_per_repo=paths_per_repo)
    ev.write.parquet(os.path.join(out, "events"))
    # base table: first n_base distinct keys from a disjoint seq range < 0
    base = (
        events_df_spark(spark, n_base * 2, n_repos=n_repos, paths_per_repo=paths_per_repo)
        .select("repo", "path").distinct().limit(n_base)
        .select(
            "repo", "path",
            F.substring(F.sha2(F.concat_ws("|", F.lit("c"), "repo", "path", F.lit("0")), 256), 1, 40).alias("commit"),
            F.lit("python").alias("lang"),
            content_expr(F.col("repo"), F.col("path"), F.lit(0)).alias("content"),
        )
    )
    base.coalesce(8).write.parquet(os.path.join(out, "base"))
    _normalize_event_mtimes(os.path.join(out, "events"))
    open(done, "w").write("ok")
    return out


def _normalize_event_mtimes(events_dir: str) -> None:
    """Stamp event part-files with mtimes strictly increasing in FILENAME
    order. part-NNNNN order == range-partitioned EMISSION order (main
    events with near-dups interleaved shortly after their originals, the
    far-late dup tail in the last files), but the files are WRITTEN by
    concurrent tasks, so raw mtimes land in near-random order — and the
    streaming file source builds triggers in mtime order. Without this a
    trigger can deliver a whole block hours of event time older than a
    previous trigger's max, and the lateness SLA (correctly) drops those
    rows — nondeterministic trigger composition across runs. A binlog tail
    delivers files in log order; this makes the fixture honor that
    contract. (rows_dropped_late = the far-late dup re-deliveries whose
    originals already committed — final-state checksum equality with the
    batch replay proves zero real-event loss.) Idempotent."""
    files = sorted(
        os.path.join(events_dir, f) for f in os.listdir(events_dir)
        if f.startswith("part-")
    )
    base_t = 1_600_000_000  # any fixed epoch; only the ORDER matters
    for i, f in enumerate(files):
        os.utime(f, (base_t + i, base_t + i))


def run_cdc_replay(spark, fixture_dir: str) -> dict:
    """Batch-replay the event log as one epoch into a 64-bucket table;
    returns wall + rate + an order-insensitive checksum of the final state
    (replay-equality evidence across parallelism levels). The replay
    includes the per-bucket LWW merge with tombstones (whose tasks also
    count the lineage), the schema ops, the lineage append and the
    epoch-fenced commit; the final-state read stays outside the clock."""
    from pyspark.sql import functions as F

    from datavec_spark.streaming.replay import CdcEngine

    work = tempfile.mkdtemp(prefix="cdc_bench_")
    eng = CdcEngine(os.path.join(work, "repos"), num_buckets=64)
    eng.bootstrap(spark, spark.read.parquet(os.path.join(fixture_dir, "base")))
    # NO .persist(): caching the event log as deserialized JVM rows (content
    # strings!) multiplies heap pressure with thread count and is exactly
    # what a 10^10-event pipeline could never do — re-scanning parquet is
    # the scale-correct shape (columnar, page-cached, whole-stage codegen)
    events = spark.read.parquet(os.path.join(fixture_dir, "events"))
    n_events = events.count()
    t0 = time.time()
    eng.apply_batch(spark, events, epoch=0)
    wall = time.time() - t0
    agg = eng.final_state_hashes(spark).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("repo", "path", "content_sha")).alias("chk"),
    ).collect()[0]
    shutil.rmtree(work, ignore_errors=True)
    return {"events": n_events, "wall_sec": round(wall, 3),
            "events_per_sec": round(n_events / wall, 1),
            "final_rows": agg["n"], "final_checksum": int(agg["chk"])}


def run_cdc_stream_replay(spark, fixture_dir: str, n_triggers: int) -> dict:
    """The same replay through the Structured Streaming path (run_stream:
    stateless checkpointed foreachBatch epoch-fenced merges), chunked into
    ~n_triggers triggers via maxFilesPerTrigger. Measures the end-to-end
    streaming wall including per-trigger serial overhead (trigger
    planning, checkpoint fsync, snapshot commit) — the overhead a real
    cluster pays once per micro-batch regardless of width, which is why
    streaming scaling efficiency is expected to trail the single-epoch
    batch number. The merge's seq fence makes re-deliveries no-ops and the
    apply stage enforces the lateness SLA against cdc.max-ts-us, recording
    exact per-(epoch, bucket) dropped_late in lineage (where the drop
    accounting is read from)."""
    import math as _math

    from pyspark.sql import functions as F

    from datavec_spark.streaming.replay import CdcEngine

    work = tempfile.mkdtemp(prefix="cdc_stream_bench_")
    eng = CdcEngine(os.path.join(work, "repos"), num_buckets=64)
    eng.bootstrap(spark, spark.read.parquet(os.path.join(fixture_dir, "base")))
    events_dir = os.path.join(fixture_dir, "events")
    files = [f for f in os.listdir(events_dir) if f.endswith(".parquet")]
    mfpt = max(1, _math.ceil(len(files) / n_triggers))
    n_events = spark.read.parquet(events_dir).count()
    t0 = time.time()
    q = eng.run_stream(spark, events_dir, os.path.join(work, "ckpt"),
                       max_files_per_trigger=mfpt, available_now=True)
    q.awaitTermination()
    wall = time.time() - t0
    drops = eng.lineage_drop_totals(spark)
    final = eng.final_state_hashes(spark)
    agg = final.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("repo", "path", "content_sha")).alias("chk"),
    ).collect()[0]
    # DROP-SAFETY (round-4 verdict item #3): the watermark may only ever
    # drop duplicate re-deliveries, never the first in-order copy of a seq
    # (the fixture delivers files in seq order via _normalize_event_mtimes;
    # only the intentional far-late dup re-deliveries exceed the delay).
    # Assert drops never exceed the fixture's duplicate budget — counted
    # OUTSIDE the timed window. The complementary ground-truth check
    # (stream final checksum == watermark-free batch replay checksum) is
    # asserted by the scaling worker, which runs both on the same fixture.
    n_distinct_seq = (
        spark.read.parquet(events_dir).agg(F.countDistinct("seq").alias("d"))
        .collect()[0]["d"]
    )
    dup_budget = n_events - n_distinct_seq
    drops_ok = drops["rows_dropped_late"] <= dup_budget
    if not drops_ok:
        # RuntimeError (not assert): the check must survive python -O, and
        # the recorded value below is the computed comparison, never a
        # literal (round-5 advice)
        raise RuntimeError(
            f"lateness SLA dropped {drops['rows_dropped_late']} rows but the "
            f"fixture only contains {dup_budget} duplicate re-deliveries — a "
            f"first-copy event was lost; widen late_delay_seconds or fix "
            f"trigger ordering")
    shutil.rmtree(work, ignore_errors=True)
    return {"events": n_events, "wall_sec": round(wall, 3),
            "events_per_sec": round(n_events / wall, 1),
            "triggers": len(q.recentProgress),
            "rows_dropped_late": drops["rows_dropped_late"],
            "dup_redelivery_budget": dup_budget,
            "drops_within_dup_budget": drops_ok,
            "final_rows": agg["n"], "final_checksum": int(agg["chk"])}


def make_session(cores: int):
    from datavec_spark.session import get_spark

    # local mode shares ONE JVM heap across all executor threads, and the
    # first session of the process fixes its size
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{heap_gb()}g")
    # AQE partition coalescing stays ON for real clusters, but in a local
    # single-JVM microbench it merges the already-small shuffle stages below
    # the core count and caps parallelism — disable it for measurement
    return get_spark(f"bench-{cores}", master=f"local[{cores}]",
                     shuffle_partitions=max(int(cores), 8),
                     extra_conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"})


def scaling_levels(cores: int) -> tuple[int, int]:
    """N and 4N: the two "cluster sizes" the host can run side by side."""
    if cores < 4:
        raise SystemExit(f"bench.py --scaling needs at least 4 cores for N and 4N; "
                         f"this host has {cores}")
    return cores // 4, cores // 4 * 4


def scaling_fixture(spark, n_events: int) -> str:
    return cdc_fixture(spark, n_events, n_base=200000, n_repos=5000, paths_per_repo=200)


def scaling_worker(cores: int, n_ev: int):
    """ONE timed trial at one parallelism level, in its own process (fresh
    JVM — no heap/JIT contamination between levels or trials). Both levels
    take the default heap, so the N level has more memory per core, which
    can only understate efficiency. Each path is warmed before it is timed,
    so the timed runs measure steady state."""
    spark = make_session(cores)
    fx = scaling_fixture(spark, n_ev)
    # warm on the REAL fixture: JIT/codegen AND the input's page cache
    run_cdc_replay(spark, fx)
    r = run_cdc_replay(spark, fx)
    # the streaming plan's codegen, checkpoint WAL and progress machinery
    # are cold on a fresh JVM; warm them on a small side fixture with its
    # own table and checkpoint
    warm_fx = cdc_fixture(spark, STREAM_WARM_EVENTS, n_base=20000,
                          n_repos=1000, paths_per_repo=50)
    run_cdc_stream_replay(spark, warm_fx, n_triggers=2)
    st = run_cdc_stream_replay(spark, fx, n_triggers=STREAM_TRIGGERS)
    # DROP-SAFETY ground truth: the batch replay above is watermark-free
    # (zero drops, same fixture) — stream/batch final-state checksum
    # equality proves every late-dropped row was either a duplicate
    # re-delivery or an LWW loser, i.e. no real event was lost. Paired with
    # the dup-budget bound raised inside run_cdc_stream_replay.
    matches = (st["final_checksum"] == r["final_checksum"]
               and st["final_rows"] == r["final_rows"])
    if not matches:
        # RuntimeError, not assert: must survive python -O
        raise RuntimeError(
            "streaming final state diverged from watermark-free batch "
            f"replay (rows {st['final_rows']} vs {r['final_rows']}) — "
            "lateness drops lost real events")
    r["stream"] = st
    print("SCALING_RESULT " + json.dumps(r))
    spark.stop()


def capture_plans(out_dir: str, names: list[str]) -> None:
    """Write each query's formatted physical plan to out_dir/<name>.txt
    (default: the headline queries). Persists a query tracks while it is
    built are released before the next one."""
    import __spark_entry__ as entry_mod
    from datavec_spark.cache import release_tracked

    spark = make_session(CPUS)
    os.makedirs(out_dir, exist_ok=True)
    qs = entry_mod.queries()
    formatted = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names or HEADLINE:
        plan = qs[name](spark, SF_DIR)._jdf.queryExecution().explainString(formatted)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        release_tracked()
        print(f"wrote {name} ({plan.count('Exchange')} Exchange mentions)")
    spark.stop()


USAGE = ("usage: bench.py [--scaling | --scaling-worker CORES EVENTS | "
         "--plans OUT_DIR [query ...]]")


def main(argv: list[str] | None = None):
    args = sys.argv[1:] if argv is None else argv
    if args[:1] == ["--plans"] and len(args) >= 2:
        capture_plans(args[1], args[2:])
    elif (args[:1] == ["--scaling-worker"] and len(args) == 3
          and all(a.isdigit() for a in args[1:])):
        scaling_worker(int(args[1]), int(args[2]))
    elif args == ["--scaling"]:
        run_scaling()
    elif not args:
        run_default()
    else:
        print(USAGE, file=sys.stderr)
        raise SystemExit(2)


def run_default():
    spark = make_session(CPUS)
    times = run_query_suite(spark, SF_DIR)
    fx = cdc_fixture(spark, BENCH_EVENTS, n_base=100000, n_repos=2000, paths_per_repo=100)
    cdc = run_cdc_replay(spark, fx)
    total = round(sum(times.values()) + cdc["wall_sec"], 3)
    times["cdc_replay"] = cdc["wall_sec"]
    print(json.dumps({
        "metric": "headline suite + CDC replay wall time",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": _sf(SF_DIR),
        "cdc_events": cdc["events"],
        "cdc_events_per_sec": cdc["events_per_sec"],
        "cores": CPUS,
    }))
    spark.stop()


def scaling_artifact(trials: dict[int, list[dict]], lo: int, hi: int) -> dict:
    """The scaling artifact from every trial's SCALING_RESULT dict, per
    level. `events` is the count the workers replayed (the fixture's
    re-deliveries included), which every rate divides; trials that
    replayed different counts are not comparable and raise RuntimeError."""
    every = [t for ts in trials.values() for t in ts]
    events = {t["events"] for t in every} | {t["stream"]["events"] for t in every}
    if len(events) != 1:
        raise RuntimeError(f"scaling trials replayed different event counts: {sorted(events)}")
    (n_events,) = events
    batch = {c: min(ts, key=lambda t: t["wall_sec"]) for c, ts in trials.items()}
    stream = {c: min((t["stream"] for t in ts), key=lambda s: s["wall_sec"])
              for c, ts in trials.items()}

    def efficiency(best: dict) -> float:
        return round((best[hi]["events_per_sec"] / best[lo]["events_per_sec"]) / (hi / lo), 3)

    return {
        "metric": f"CDC replay scaling local[{lo}] -> local[{hi}]",
        "events": n_events,
        "levels": [lo, hi],
        "trials": len(trials[lo]),
        f"rate_local{lo}": batch[lo]["events_per_sec"],
        f"rate_local{hi}": batch[hi]["events_per_sec"],
        f"wall_local{lo}": batch[lo]["wall_sec"],
        f"wall_local{hi}": batch[hi]["wall_sec"],
        "scaling_efficiency": efficiency(batch),
        "final_rows_equal": batch[lo]["final_rows"] == batch[hi]["final_rows"],
        "final_checksum_equal": batch[lo]["final_checksum"] == batch[hi]["final_checksum"],
        "final_rows": batch[hi]["final_rows"],
        f"trial_walls_local{lo}": [t["wall_sec"] for t in trials[lo]],
        f"trial_walls_local{hi}": [t["wall_sec"] for t in trials[hi]],
        "streaming": {
            f"rate_local{lo}": stream[lo]["events_per_sec"],
            f"rate_local{hi}": stream[hi]["events_per_sec"],
            f"wall_local{lo}": stream[lo]["wall_sec"],
            f"wall_local{hi}": stream[hi]["wall_sec"],
            "scaling_efficiency": efficiency(stream),
            "triggers": stream[hi]["triggers"],
            "rows_dropped_late": stream[hi]["rows_dropped_late"],
            # both are checked per trial inside the worker (RuntimeError on
            # violation) and recorded here as computed comparisons
            "dup_redelivery_budget": stream[hi]["dup_redelivery_budget"],
            "drops_within_dup_budget": all(
                t["stream"]["rows_dropped_late"] <= t["stream"]["dup_redelivery_budget"]
                for t in every),
            "stream_matches_batch_both_levels": all(
                (t["stream"]["final_checksum"], t["stream"]["final_rows"])
                == (t["final_checksum"], t["final_rows"]) for t in every),
            "final_checksum_equal": stream[lo]["final_checksum"] == stream[hi]["final_checksum"],
            "final_rows": stream[hi]["final_rows"],
            f"trial_walls_local{lo}": [t["stream"]["wall_sec"] for t in trials[lo]],
            f"trial_walls_local{hi}": [t["stream"]["wall_sec"] for t in trials[hi]],
        },
    }


def run_scaling():
    """Same CDC replay at N and 4N cores; efficiency evidence for the north
    rule's two-cluster-size criterion."""
    import subprocess

    from perfbench.common import cpu_ticks, host_block, loadavg

    lo, hi = scaling_levels(CPUS)
    load0, ticks0 = loadavg(), cpu_ticks()
    gen = make_session(CPUS)
    scaling_fixture(gen, SCALE_EVENTS)
    gen.stop()

    def one_trial(cores: int) -> dict:
        # fresh process per TRIAL: a shared JVM would leak JIT warm-up and
        # heap aging across trials/levels
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scaling-worker",
             str(cores), str(SCALE_EVENTS)],
            capture_output=True, text=True, timeout=2400,
        )
        line = [ln for ln in proc.stdout.splitlines() if ln.startswith("SCALING_RESULT ")]
        if not line:
            dump = os.path.join(tempfile.gettempdir(), f"scaling_worker_{cores}_fail.log")
            with open(dump, "w") as fh:
                fh.write(proc.stderr)
            # first exception line beats the tail of a java stack trace
            err_lines = [ln for ln in proc.stderr.splitlines()
                         if "Error" in ln or "Exception" in ln][:3]
            raise RuntimeError(
                f"scaling worker {cores} failed (full stderr: {dump}): "
                + " | ".join(err_lines)[:500])
        return json.loads(line[-1].split(" ", 1)[1])

    # INTERLEAVED trials (lo, hi, lo, hi, ...): bursty external CPU
    # contention can last minutes, and running one level's trials
    # back-to-back would let one noisy window poison that whole level.
    # Alternating exposes both levels to the same noise; min-of-N per level
    # then reflects engine capability.
    trials: dict[int, list[dict]] = {lo: [], hi: []}
    for _ in range(SCALE_TRIALS):
        for cores in (lo, hi):
            trials[cores].append(one_trial(cores))
    out = scaling_artifact(trials, lo, hi)
    out["host"] = host_block(REPO, CPUS, heap_gb(), load0, ticks0)
    print(json.dumps(out))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling_latest.json"), "w") as fh:
        json.dump(out, fh, indent=2)


if __name__ == "__main__":
    main()
