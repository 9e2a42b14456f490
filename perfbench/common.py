"""Shared pieces: host sizing and facts, the Spark session's lifetime,
percentile rules and the result line."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time

TAIL_MIN_BEYOND = 10


def host_cores() -> int:
    """SPARK_GRAFT_CPUS if set, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_gb() -> int:
    """A quarter of RAM, between 2 and 8 GB: local mode runs driver and
    executors in one JVM, and the host is shared."""
    return max(2, min(8, int(mem_total_gb() / 4)))


def loadavg() -> list[float]:
    return list(os.getloadavg())


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_digest(root: str) -> str:
    """Content hash of the engine sources, standing in for a commit id when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    for base in ("datavec_spark", "__spark_entry__.py", "bench.py"):
        top = os.path.join(root, base)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs if f.endswith(".py"))
        for p in sorted(paths):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def host_block(root: str, cores: int, heap: int, load_before: list[float],
               ticks_before: tuple[int, int]) -> dict:
    """Host facts for the report. steal_pct is the share of CPU time the
    hypervisor gave to other guests during the run: timings drift with it."""
    import pyspark

    steal, total = (after - before for after, before in zip(cpu_ticks(), ticks_before))
    return {
        "cores": cores, "nproc": os.cpu_count(), "ram_gb": round(mem_total_gb(), 2),
        "heap_gb": heap, "loadavg_before": load_before, "loadavg_after": loadavg(),
        "steal_pct": 100.0 * steal / total if total else 0.0,
        "spark": pyspark.__version__, "python": platform.python_version(),
        "git_sha": git_sha(root), "source_digest": tree_digest(root),
    }


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float] | None:
    """The highest percentile that still has `min_beyond` samples above it:
    the (n - min_beyond)-th smallest sample, reported as (percentile, value).
    None when there are too few samples to support any tail."""
    n = len(xs)
    k = n - min_beyond
    if k < 1:
        return None
    return 100.0 * k / n, sorted(xs)[k - 1]


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


class Session:
    """Owns the benchmark's SparkSession and the JVM behind it."""

    def __init__(self, app: str, cores: int, extra_conf: dict[str, str]):
        self.app, self.cores, self.extra_conf = app, cores, extra_conf
        self.spark = None
        self._proc = None

    def start(self, cores: int | None = None, conf: dict[str, str] | None = None):
        from datavec_spark.session import get_spark

        c = cores or self.cores
        conf = {"spark.sql.adaptive.coalescePartitions.enabled": "false",
                **self.extra_conf, **(conf or {})}
        self.spark = get_spark(self.app, master=f"local[{c}]",
                               shuffle_partitions=max(c, 8), extra_conf=conf)
        gw = self.spark.sparkContext._gateway
        self._proc = getattr(gw, "proc", None) or self._proc
        return self.spark

    def restart(self, cores: int | None = None, conf: dict[str, str] | None = None):
        """Stop the session and start a new one in the same JVM; `conf`
        overrides the session's own settings for the new one."""
        self.spark.stop()
        return self.start(cores, conf)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing")

    def close(self) -> None:
        """Stop Spark, shut the py4j gateway and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            if self._proc.stdin:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait(timeout=30)
        self.spark = None


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def emit(report: dict, metrics: dict, units: dict, attempted: int, failed: int,
         correct: bool) -> None:
    """Print the full report line, then the result line (always last)."""
    print("REPORT " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    sys.stdout.flush()
