"""Layered benchmark for datavec_spark.

    python3 perfbench/run.py --workload {analytics,cdc} --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from the seed and cached
under perfbench/.cache/; every file the run writes stays there. The last
line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are BENCHMARK.json's end_to_end
list, with --trace 1 its per_layer list. The line before it, prefixed
REPORT, carries the host block, the workload's named metrics and detail.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170


class Context:
    def __init__(self, args, cache: str, work: str, cores: int):
        from perfbench.trace import Tracer

        self.seed, self.seconds, self.workload = args.seed, args.seconds, args.workload
        self.cache, self.work, self.cores = cache, work, cores
        self.tracer = Tracer(bool(args.trace))
        self.event_log_dir = os.path.join(work, "eventlog")
        self.session = None
        self.spark = None
        self.session_start_s = 0.0

    def start_session(self):
        from perfbench.common import Session, timed
        from perfbench.trace import EVENT_LOG_CONF

        # Spark's and the JVM's scratch files stay inside the run directory
        os.makedirs(os.path.join(self.work, "jvm_tmp"), exist_ok=True)
        conf = {"spark.local.dir": os.path.join(self.work, "spark_local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'jvm_tmp')} "
                    f"-Dderby.system.home={self.work} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if self.tracer.enabled:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(EVENT_LOG_CONF)
            conf["spark.eventLog.dir"] = self.event_log_dir
        self.session = Session(f"perfbench-{self.workload}", self.cores, conf)
        self.session_start_s, self.spark = timed(self.session.start)
        return self.spark

    def restart(self, cores: int | None = None, traced: bool = True):
        """Same-JVM session restart. traced=False turns the event log off
        for the new session: a traced run's untraced comparison."""
        off = {} if traced else {"spark.eventLog.enabled": "false"}
        self.spark = self.session.restart(cores, off)
        return self.spark


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _check_checkout() -> None:
    missing = [p for p in ("datavec_spark", "__spark_entry__.py", "bench.py", "tools")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: engine sources missing from {ROOT}: {missing}")


def _configure_env(cache: str, work: str) -> tuple[int, int]:
    """Size from the host and keep every scratch file inside the checkout.
    Must run before `bench` or `__spark_entry__` is imported: both read the
    environment at import time."""
    import tempfile

    from perfbench.common import heap_gb, host_cores

    cores, heap = host_cores(), heap_gb()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}g"
    tmp = os.path.join(cache, "tmp")  # engine fixtures keyed by name: kept across runs
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    return cores, heap


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _check_checkout()
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}")
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    sys.path.insert(0, ROOT)
    from perfbench.common import cpu_ticks, emit, host_block, loadavg

    load_before, ticks_before = loadavg(), cpu_ticks()
    cache = os.path.join(HERE, ".cache")
    work = os.path.join(cache, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores, heap = _configure_env(cache, work)
    ctx = Context(args, cache, work, cores)
    t0 = time.perf_counter()
    try:
        if args.workload == "analytics":
            from perfbench import analytics as wl
        else:
            from perfbench import cdc as wl
        res = wl.run(ctx)
        rss = ctx.session.jvm_peak_rss_mb()
    finally:
        ctx.tracer.close()
        if ctx.session is not None:
            ctx.session.close()
    wall = time.perf_counter() - t0
    signal.alarm(0)

    layers = {"session.start_s": ctx.session_start_s, "jvm_peak_rss_mb": rss,
              **res.get("named", {}),
              **res.get("layers", {})}
    if ctx.tracer.enabled:
        ctx.tracer.write(os.path.join(work, "spans.jsonl"))
    section = "per_layer" if args.trace else "end_to_end"
    source = layers if args.trace else res["e2e"]
    metrics = {m["name"]: source.get(m["name"], 0.0) for m in spec[section]}
    units = {m["name"]: m["unit"] for m in spec[section]}
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "wall_s": wall, "host": host_block(ROOT, cores, heap, load_before, ticks_before),
              "e2e": res["e2e"], "named": res.get("named", {}), "jvm_peak_rss_mb": rss,
              "detail": res["detail"],
              "layers": layers if args.trace else None,
              "unlisted": sorted(set(layers) - set(units)) if args.trace else None}
    emit(report, metrics, units, res["attempted"], res["failed"],
         correct=res["failed"] == 0)
    return 0


if __name__ == "__main__":
    sys.exit(main())
