"""Unit tests for the benchmark's own arithmetic.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402
import spans  # noqa: E402
from spans import EventLog, Span, attribute, coverage, self_times, union_length  # noqa: E402


def test_union_length_merges_overlaps_and_keeps_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 4), (1, 2)]) == 4.0


def test_self_time_subtracts_union_of_children():
    s = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6 = 5
        Span(3, "c", 5.5, 6.0, parent=2),
    ]
    st = self_times(s)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(0.5)


def test_self_time_clips_children_to_parent():
    s = [Span(0, "root", 0.0, 2.0), Span(1, "late", 1.5, 3.0, parent=0)]
    assert self_times(s)[0] == pytest.approx(1.5)


def test_coverage_counts_top_level_spans_only():
    s = [Span(0, "op", 0.0, 4.0), Span(1, "inner", 0.0, 9.0, parent=0), Span(2, "op", 6.0, 8.0)]
    assert coverage(s, (0.0, 10.0)) == pytest.approx(0.6)


def test_tracer_nests_spans_and_restores_tags():
    tags = []

    class FakeContext:
        def setLocalProperty(self, key, value):
            assert key == spans.SPAN_PROPERTY
            tags.append(value)

    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    t = spans.Tracer(FakeContext())
    t.wrap(Layer, "outer", "layer.outer")
    t.wrap(Layer, "inner", "layer.inner")
    assert Layer().outer() == 2  # off by default: no spans, no tags
    assert t.spans == [] and tags == []
    t.enabled = True
    assert Layer().outer() == 2
    outer, inner = t.spans
    assert (outer.name, outer.parent, inner.name, inner.parent) == ("layer.outer", None, "layer.inner", 0)
    assert tags == ["0", "1", "0", None]


def test_percentile_interpolates():
    assert harness.percentile([3, 1, 2], 0.5) == 2
    assert harness.percentile([1, 2, 3, 4], 0.75) == pytest.approx(3.25)
    with pytest.raises(ValueError):
        harness.percentile([], 0.5)


def test_recall():
    truth = {(1, 2), (3, 4), (5, 6), (7, 8)}
    assert harness.recall({(1, 2), (3, 4), (9, 9)}, truth) == 0.5
    assert harness.recall(set(), set()) == 1.0
    assert harness.recall(set(), truth) == 0.0


def _event_log():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {spans.SPAN_PROPERTY: "1", "spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {spans.SPAN_PROPERTY: "2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": False},
         "Task Metrics": {"JVM GC Time": 5, "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                          "Input Metrics": {"Bytes Read": 10}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": True},
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 50}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
         "Task Metrics": {"Output Metrics": {"Bytes Written": 30}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {}, "Task Metrics": {}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 7,
         "sparkPlanInfo": {"nodeName": "Exchange", "children": [
             {"nodeName": "Scan parquet ", "metadata": {"Location": "InMemoryFileIndex[file:/w/feed]"},
              "metrics": [{"name": "size of files read", "accumulatorId": 41},
                          {"name": "number of files read", "accumulatorId": 42}]},
             {"nodeName": "Scan parquet ", "metadata": {"Location": "InMemoryFileIndex[file:/w/table]"},
              "metrics": [{"name": "size of files read", "accumulatorId": 43}]}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[41, 900], [42, 3], [43, 5000]]},
    ]
    return EventLog(json.dumps(e) for e in ev)


def test_event_log_jobs_are_charged_to_their_span():
    log = _event_log()
    s = [Span(0, "op", 0, 1), Span(1, "lake.merge", 0, 1, parent=0), Span(2, "lake.read", 0, 1, parent=0)]
    per = attribute(log, s)
    assert set(per) == {1, 2}  # the untagged job belongs to no span
    merge, read = per[1], per[2]
    # stage 1 is shared: its tasks belong to the first job that listed it
    assert (merge.jobs, merge.tasks_failed) == (1, 1)
    assert (merge.shuffle_write_bytes, merge.spill_bytes, merge.gc_ms) == (150, 3, 5)
    assert (read.jobs, read.output_bytes) == (1, 30)
    assert log.jobs[0].execution == 7


def test_planned_scan_bytes_filters_by_path():
    log = _event_log()
    assert log.planned_scan_bytes("/w/feed") == {7: 900}
    assert log.planned_scan_bytes("/w/table") == {7: 5000}
    assert log.planned_scan_bytes("/elsewhere") == {}


def test_sampler_keeps_the_largest_sum_of_live_rss(monkeypatch):
    me = os.getpid()
    tree = {me: (1, "python3"), me + 1: (me, "java"), me + 2: (me + 1, "python3")}
    rss = {me: 100, me + 1: 1000, me + 2: 50}
    monkeypatch.setattr(harness, "_proc_table", lambda: dict(tree))
    monkeypatch.setattr(harness, "_rss_kb", lambda pid: rss.get(pid, 0))
    monkeypatch.setattr(harness, "shm_used_bytes", lambda: 0)
    s = harness.Sampler()
    s.sample()
    assert (s.peak_rss_kb, s.peak_worker_kb) == (1150, 50)
    # a worker that exited and a new one in its place: the old peak is not added
    del tree[me + 2]
    tree[me + 3] = (me + 1, "python3")
    rss[me + 3] = 40
    s.sample()
    assert (s.peak_rss_kb, s.peak_worker_kb) == (1150, 50)
    rss[me + 1] = 1200
    s.sample()
    assert (s.peak_rss_kb, s.peak_worker_kb) == (1340, 50)


def test_tree_cpu_s_counts_this_process_and_reaped_children():
    import subprocess
    import time

    def burn(seconds):
        end = time.thread_time() + seconds
        while time.thread_time() < end:
            pass

    c0 = harness.tree_cpu_s(os.getpid())
    burn(0.3)
    c1 = harness.tree_cpu_s(os.getpid())
    assert c1 - c0 == pytest.approx(0.3, abs=0.1)
    subprocess.run([sys.executable, "-c",
                    "import time\nend = time.process_time() + 0.3\n"
                    "while time.process_time() < end: pass"], check=True)
    assert harness.tree_cpu_s(os.getpid()) - c1 >= 0.3
