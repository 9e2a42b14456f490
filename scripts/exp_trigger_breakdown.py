"""Per-trigger cost breakdown for the streaming CDC replay.

Runs one streaming replay on a mid-size fixture and prints Spark's own
durationMs decomposition per trigger (addBatch = our foreachBatch work,
walCommit/commitOffsets = checkpoint fsyncs, getBatch/latestOffset =
source planning) plus wall totals. Drives the serial-cost engineering for
the scaling gate: the parallel work shrinks 4x from local[4] to
local[16]; whatever does NOT shrink is the term that caps streaming
scaling efficiency.

Usage: python scripts/exp_trigger_breakdown.py [cores] [n_events]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

cores = int(sys.argv[1]) if len(sys.argv) > 1 else 16
n_ev = int(sys.argv[2]) if len(sys.argv) > 2 else 3_000_000

os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(cores, 8)}g"

import bench  # noqa: E402  (bench first: keeps _FIXTURE_CACHE on disk)

spark = bench.make_session(cores)
fx = bench.cdc_fixture(spark, n_ev, n_base=100000, n_repos=2000, paths_per_repo=100)

import math
import shutil
import tempfile

from datavec_spark.streaming.replay import CdcEngine

work = tempfile.mkdtemp(prefix="trigbrk_")
eng = CdcEngine(os.path.join(work, "repos"), num_buckets=64)
eng.bootstrap(spark, spark.read.parquet(os.path.join(fx, "base")))
events_dir = os.path.join(fx, "events")
files = [f for f in os.listdir(events_dir) if f.endswith(".parquet")]
mfpt = max(1, math.ceil(len(files) / 4))
t0 = time.time()
q = eng.run_stream(spark, events_dir, os.path.join(work, "ckpt"),
                   max_files_per_trigger=mfpt, available_now=True)
q.awaitTermination()
wall = time.time() - t0

keys = set()
rows = []
for p in q.recentProgress:
    d = dict(p["durationMs"] or {})
    d["_rows"] = p["numInputRows"]
    rows.append(d)
    keys |= set(d)
print(f"cores={cores} events={n_ev} wall={wall:.2f}s "
      f"triggers={len(rows)}")
for i, d in enumerate(rows):
    print(f"  trigger {i}: " + json.dumps(d, sort_keys=True))
tot = {k: sum(d.get(k, 0) for d in rows) for k in keys if k != "_rows"}
print("  totals_ms: " + json.dumps(tot, sort_keys=True))
shutil.rmtree(work, ignore_errors=True)
spark.stop()
