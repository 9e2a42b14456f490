"""Tracing for the per-layer run: spans around calls into the engine's
public functions, Spark job groups, the event log and Janino compile counts.

Spans are recorded from the benchmark's side only: `Tracer.wrap` replaces a
method on an engine class with a timing wrapper for the life of the tracer
and `close` restores it. Spans stay in memory; `write` dumps them at the end.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[type, str, object]] = []

    # -- spans -----------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, cls: type, method: str, name: str) -> None:
        """Record a span named `name` around every call of the instance
        method cls.method."""
        if not self.enabled:
            return
        orig = cls.__dict__[method]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(cls, method, traced)
        self._patched.append((cls, method, orig))

    def close(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    # -- derived numbers -------------------------------------------------------

    def totals(self, name: str) -> tuple[int, float]:
        """(count, summed duration) of spans called `name`."""
        ds = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return len(ds), sum(ds)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed self time (duration minus the part of its
        interval covered by its child spans)."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - covered(kids[s["id"]])
        return dict(out)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return self
        stack = t._stack()
        with t._lock:
            self.id = len(t.spans)
            self.rec = {"id": self.id, "name": self.name,
                        "parent": stack[-1] if stack else None,
                        "thread": threading.get_ident(), **self.attrs}
            t.spans.append(self.rec)
        stack.append(self.id)
        self.rec["start"] = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if not t.enabled:
            return False
        self.rec["end"] = time.perf_counter()
        t._stack().pop()
        return False


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def parse_event_log(lines) -> dict[str | None, dict]:
    """Aggregate task metrics per job group from a Spark JSON event log.

    Returns {job_group: {jobs, stages, tasks, run_s, cpu_s, gc_s,
    shuffle_read_mb, shuffle_write_mb, spill_mb}}; jobs started without a
    group are filed under None."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            agg = out[group]
            agg["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
                agg["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            agg = out[stage_group.get(ev["Stage ID"])]
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            agg["tasks"] += 1
            agg["run_s"] += m.get("Executor Run Time", 0) / 1e3
            agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            agg["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / 1e6
            agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            agg["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) / 1e6
    return {g: dict(v) for g, v in out.items()}


def read_event_log(log_dir: str) -> dict[str | None, dict]:
    """Parse every (uncompressed, non-rolling) event log file in log_dir.
    The live session's log is still being written, so a last line without
    its newline is left out."""
    merged: dict[str | None, dict] = defaultdict(lambda: defaultdict(float))
    for f in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, f)) as fh:
            whole = (line for line in fh if line.endswith("\n"))
            for group, agg in parse_event_log(whole).items():
                for k, v in agg.items():
                    merged[group][k] += v
    return {g: dict(v) for g, v in merged.items()}


class Codegen:
    """Janino compile count and time from Spark's CodegenMetrics, via py4j.
    The compile-time histogram keeps a sample, so time is count x mean."""

    def __init__(self, spark):
        self._m = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def read(self) -> tuple[int, float]:
        h = self._m.METRIC_COMPILATION_TIME()
        n = h.getCount()
        return n, (h.getSnapshot().getMean() * n if n else 0.0)
