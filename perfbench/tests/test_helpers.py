"""Tests for the benchmark's own helpers (no Spark needed).

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.analytics import cells_match, round_places, rows_match
from perfbench.cdc import commit_times, epoch_commit_times, source_log_batches
from perfbench.common import tail
from perfbench.trace import Tracer, covered, parse_event_log, read_event_log

DATA = os.path.join(os.path.dirname(__file__), "data")


# -- event log -----------------------------------------------------------------


def test_event_log_groups_jobs_stages_and_task_metrics():
    with open(os.path.join(DATA, "eventlog_tiny.jsonl")) as fh:
        groups = parse_event_log(fh)
    with open(os.path.join(DATA, "eventlog_tiny.expected.json")) as fh:
        want = json.load(fh)
    assert set(groups) == {None if k == "null" else k for k in want}
    for k, exp in want.items():
        got = groups[None if k == "null" else k]
        for metric, v in exp.items():
            assert got.get(metric, 0) == pytest.approx(v, rel=1e-9, abs=1e-12), (k, metric)


def test_event_log_task_of_unknown_stage_goes_to_no_group():
    lines = [json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 7,
                         "Task Metrics": {"Executor Run Time": 5,
                                          "Executor CPU Time": 2_000_000}})]
    g = parse_event_log(lines)
    assert g[None]["tasks"] == 1
    assert g[None]["run_s"] == pytest.approx(0.005)
    assert g[None]["cpu_s"] == pytest.approx(0.002)


def test_event_log_of_a_live_session_skips_a_torn_last_line(tmp_path):
    with open(os.path.join(DATA, "eventlog_tiny.jsonl")) as fh:
        text = fh.read()
    (tmp_path / "app-1.inprogress").write_text(text + '{"Event": "SparkListenerTaskE')
    with open(os.path.join(DATA, "eventlog_tiny.expected.json")) as fh:
        want = json.load(fh)
    got = read_event_log(str(tmp_path))
    assert got["query.tiny"]["tasks"] == want["query.tiny"]["tasks"]


# -- highest supported percentile ---------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(10))) is None
    assert tail([1.0] * 10) is None
    pct, v = tail(list(range(11)))
    assert v == 0 and pct == pytest.approx(100 / 11)


def test_tail_picks_the_sample_with_exactly_ten_above():
    xs = [float(x) for x in range(40, 0, -1)]  # unsorted input: 40..1
    pct, v = tail(xs)
    assert pct == 75.0 and v == 30.0
    assert sum(x > v for x in xs) == 10


def test_tail_custom_floor():
    pct, v = tail([3.0, 1.0, 2.0, 4.0], min_beyond=1)
    assert (pct, v) == (75.0, 3.0)


# -- spans ------------------------------------------------------------------------


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert covered([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_subtracts_children_once():
    t = Tracer(enabled=True)
    t.spans = [
        {"id": 0, "name": "apply", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "merge", "parent": 0, "start": 2.0, "end": 6.0},
        {"id": 2, "name": "meta", "parent": 0, "start": 5.0, "end": 7.0},
        {"id": 3, "name": "meta", "parent": 1, "start": 3.0, "end": 4.0},
    ]
    st = t.self_times()
    assert st["apply"] == pytest.approx(5.0)  # 10 - |[2,7)|
    assert st["merge"] == pytest.approx(3.0)
    assert st["meta"] == pytest.approx(3.0)
    assert t.totals("meta") == (2, pytest.approx(3.0))


def test_wrap_records_nested_spans_and_restores():
    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    t = Tracer(enabled=True)
    t.wrap(Layer, "outer", "outer")
    t.wrap(Layer, "inner", "inner")
    assert Layer().outer() == 2
    names = [(s["name"], s["parent"]) for s in t.spans]
    assert names == [("outer", None), ("inner", 0)]
    t.close()
    Layer().outer()
    assert len(t.spans) == 2


# -- file -> epoch -> snapshot time -----------------------------------------------------


class _Table:
    def __init__(self, snaps):
        self._snaps = snaps

    def snapshots(self):
        return self._snaps


def _write_log(path, entries):
    with open(path, "w") as fh:
        fh.write("v1\n")
        for e in entries:
            fh.write(json.dumps(e) + "\n")


def test_file_to_epoch_to_snapshot_time(tmp_path):
    log = tmp_path / "ckpt" / "sources" / "0"
    log.mkdir(parents=True)
    entry = lambda f, b: {"path": f"file:///in/{f}", "timestamp": 1, "batchId": b}  # noqa: E731
    # a compacted log holds earlier batches; plain files hold later ones
    _write_log(log / "1.compact", [entry("a.parquet", 0), entry("b.parquet", 1)])
    _write_log(log / "2", [entry("c.parquet", 2), entry("d.parquet", 2)])
    _write_log(log / "3", [entry("e.parquet", 3)])
    (log / ".2.crc").write_text("x")
    assert source_log_batches(str(tmp_path / "ckpt")) == {
        "a.parquet": 0, "b.parquet": 1, "c.parquet": 2, "d.parquet": 2, "e.parquet": 3}

    data = _Table([
        {"summary": {"operation": "overwrite"}, "timestamp_ms": 500},
        {"summary": {"operation": "merge", "epoch": 0}, "timestamp_ms": 1000},
        {"summary": {"operation": "merge", "epoch": 2}, "timestamp_ms": 3000},
    ])
    # epoch 1 merged nothing (every event late): its lineage commit counts;
    # the lineage commit of epoch 0 comes later than its data commit and loses
    lineage = _Table([
        {"summary": {"epoch": 0}, "timestamp_ms": 1100},
        {"summary": {"epoch": 1}, "timestamp_ms": 2000},
    ])
    assert epoch_commit_times(data, lineage) == {0: 1.0, 2: 3.0, 1: 2.0}
    # e.parquet's epoch 3 has not committed yet: it is missing, not zero
    assert commit_times(str(tmp_path / "ckpt"), data, lineage) == {
        "a.parquet": 1.0, "b.parquet": 2.0, "c.parquet": 3.0, "d.parquet": 3.0}


def test_missing_checkpoint_maps_nothing(tmp_path):
    assert source_log_batches(str(tmp_path / "nope")) == {}


# -- oracle comparison ---------------------------------------------------------------


def test_round_places_reads_literal_digits_of_nested_round_calls():
    sql = ("SELECT ROUND(sum(a * (1 - b)), 2) AS r, round(avg(c), 4), "
           "round(x) AS whole, ground(y, 3), round(z, k) FROM t")
    assert round_places(sql) == [2, 4]
    assert round_places("SELECT a FROM t") == []


def test_rounded_sums_may_differ_by_one_unit_at_the_query_rounding_place():
    assert cells_match(1172.82, 1172.83, [2])
    assert cells_match(1172.82, 1172.83, [2, 4])
    assert cells_match(0.5, 0.5001, [4])
    assert not cells_match(1172.82, 1172.83, [])  # the query rounds nothing
    assert not cells_match(1172.82, 1172.83, [4])
    assert not cells_match(1172.82, 1172.84, [2])
    assert not cells_match(0.5123, 0.5125, [4])
    assert not cells_match(0.51234, 0.51244, [4])  # not on the 4th place
    assert not cells_match(3, 4, [0])
    assert not cells_match("a", "b", [2])


def test_a_value_with_trailing_zeros_dropped_gets_no_wider_tolerance():
    for a, b in [(1.0, 1.1), (0.5, 0.6), (100.0, 100.1), (2.0, 3.0)]:
        assert not cells_match(a, b, [2, 4]), (a, b)


def test_rows_match_requires_same_shape():
    assert rows_match([(1, 2.25)], [(1, 2.26)], [2])
    assert not rows_match([(1, 2.25)], [(1, 2.26)])
    assert not rows_match([(1, 2.25)], [(1, 2.25), (2, 1.0)], [2])
    assert not rows_match([(1, 2.25)], [(2, 2.25)], [2])
