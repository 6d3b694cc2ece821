"""Tests of the benchmark's own logic: generators, order statistics,
self time, the event-log parser and process cleanup.  They start no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

from perfbench import gen
from perfbench.trace import Span, Tracer, descendants, parse_event_log, self_times, tail


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


# -- generators ---------------------------------------------------------------
def test_vcf_same_seed_same_bytes(tmp_path):
    a = gen.make_vcf(7, str(tmp_path / "a"), 2_000, 3)
    b = gen.make_vcf(7, str(tmp_path / "b"), 2_000, 3)
    c = gen.make_vcf(8, str(tmp_path / "c"), 2_000, 3)
    assert a == b and _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a != c


def test_vcf_mix_and_expected_rows(tmp_path):
    rows = gen.make_vcf(3, str(tmp_path), 5_000, 4)
    records = [
        line.split("\t") for name in sorted(os.listdir(tmp_path))
        for line in open(tmp_path / name) if not line.startswith("#")
    ]
    assert len(records) == 5_000
    # one expected row per ALT allele
    assert len(rows) == sum(len(r[4].split(",")) for r in records)
    multi = sum("," in r[4] for r in records) / len(records)
    snv = sum(len(r[3]) == 1 and len(r[4]) == 1 for r in records) / len(records)
    assert 0.002 < multi < 0.03 and 0.78 < snv < 0.88
    # padded records are expected in their trimmed form
    assert all(x[2][-1] != x[3][-1] for x in rows)
    assert len({(r[0], r[1]) for r in records}) == len(records)


def test_normalize_vectors():
    assert gen.normalize(100, "CTG", "CG") == (100, "CT", "C")
    assert gen.normalize(100, "A", "G") == (100, "A", "G")
    assert gen.normalize(100, "GAT", "GAAT") == (100, "G", "GA")
    assert gen.normalize(1, "AA", "A") == (1, "AA", "A")


def test_lookups_seeded_with_misses():
    rows = [("chr1", 100 + 50 * i, "A", "G", f"rs{1000 + i}" if i % 2 else None) for i in range(200)]
    a = gen.make_lookups(5, rows, 300)
    assert a == gen.make_lookups(5, rows, 300)
    assert a != gen.make_lookups(6, rows, 300)
    misses = sum(not want for _key, want in a)
    assert 0.05 * 300 < misses < 0.3 * 300
    for (kind, *key), want in a:
        if kind == "variant" and want:
            assert want == [r for r in rows if (r[0], r[1]) == tuple(key)]


def test_events_and_documents_same_seed_same_content():
    for make, n in ((gen.make_events, 500), (gen.make_documents, 80)):
        a, b = pa.table(make(11, n)), pa.table(make(11, n))
        assert a.equals(b) and not a.equals(pa.table(make(12, n)))
    docs = gen.make_documents(11, 80)
    assert list(docs["n_chars"]) == [len(t) for t in docs["text"]]
    ts = pa.table(gen.make_events(11, 500))["ts"].to_pylist()
    assert ts == sorted(ts)


def test_zset_plan_inserts_and_retracts_once():
    plan = gen.make_zset_plan(2, 0, list(range(100)), 4, 0.75, 5, 3)
    assert plan == gen.make_zset_plan(2, 0, list(range(100)), 4, 0.75, 5, 3)
    assert plan != gen.make_zset_plan(2, 1, list(range(100)), 4, 0.75, 5, 3)
    present = set()
    inserted, deleted = set(), set()
    for step in plan:
        assert not inserted & set(step["insert"]) and not deleted & set(step["delete"])
        assert set(step["delete"]) <= present
        inserted |= set(step["insert"])
        deleted |= set(step["delete"])
        present = (present - set(step["delete"])) | set(step["insert"])
        assert sorted(present) == step["present"]
    assert len(plan[0]["insert"]) == 75 and len(plan) == 5


def test_query_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(9)]
    a = gen.query_order(4, names, 3)
    assert a == gen.query_order(4, names, 3) and a != gen.query_order(5, names, 3)
    assert all(sorted(p) == sorted(names) for p in a)


# -- order statistics ---------------------------------------------------------
@pytest.mark.parametrize("n, index, pct", [(25, 14, 60.0), (11, 0, 100 / 11), (40, 29, 75.0)])
def test_tail_keeps_ten_samples_beyond(n, index, pct):
    values = list(range(n, 0, -1))  # unsorted input
    v, p, count = tail([float(x) for x in values])
    assert v == sorted(values)[index] and p == pytest.approx(pct) and count == n
    assert sum(x > v for x in values) == 10


def test_tail_with_too_few_samples_is_the_max():
    assert tail([0.3, 0.1, 0.2]) == (0.3, 100.0, 3)


# -- spans --------------------------------------------------------------------
def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "op", 0.0, 10.0),
        Span(1, "a", 1.0, 3.0, parent=0),
        Span(2, "b", 2.0, 5.0, parent=0),  # overlaps a: [1, 5] counted once
        Span(3, "c", 7.0, 8.0, parent=0),
        Span(4, "grandchild", 7.2, 7.5, parent=3),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - 4 - 1)
    assert own[3] == pytest.approx(1 - 0.3)
    assert own[4] == pytest.approx(0.3)
    assert {s.id for s in descendants(spans, 3)} == {3, 4}


class _FakeContext:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, desc):
        self.calls.append(group)

    def setLocalProperty(self, key, value):
        self.calls.append(value)


def test_tracer_labels_nested_spans_and_restores_the_parent_group():
    sc = _FakeContext()
    tr = Tracer("run", sc)
    with tr.span("op") as op:
        with tr.span("child") as child:
            pass
        assert sc.calls[-1] == op.group
    assert sc.calls == [op.group, child.group, op.group, None]
    assert child.parent == op.id and op.parent is None
    assert op.group != child.group and op.group.startswith("run:")
    assert tr.overhead_s > 0
    untraced = Tracer("run")
    with untraced.span("op"):
        pass
    assert untraced.overhead_s == 0 and untraced.spans[0].dur >= 0


# -- event log ----------------------------------------------------------------
def _canned_log(path):
    sql = "org.apache.spark.sql.execution.ui."
    scope = json.dumps({"id": "3", "name": "Scan text "})
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": {"nodeName": "Exchange", "metrics": [], "children": [
             {"nodeName": "Scan text", "metrics": [
                 {"name": "number of files read", "accumulatorId": 41},
                 {"name": "number of output rows", "accumulatorId": 42}],
              "children": []}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g:1", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},  # no group: not attributed
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[41, 3], [42, 100]]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Input Metrics": {"Bytes Read": 500},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 70},
            "Memory Bytes Spilled": 9, "Disk Bytes Spilled": 11}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000, "Input Metrics": {"Bytes Read": 300}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 2, "Submission Time": 1000,
            "Completion Time": 3500, "RDD Info": [{"Scope": scope}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 65}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 1, "Submission Time": 3500,
            "Completion Time": 4000, "RDD Info": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor CPU Time": 7_000_000_000}},
    ]
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def test_event_log_parser(tmp_path):
    _canned_log(tmp_path / "app")
    log = parse_event_log(str(tmp_path / "app"))
    g = log.groups["g:1"]
    assert (g.jobs, g.stages, g.tasks) == (1, 2, 3)
    assert g.task_cpu_s == pytest.approx(3.0)
    assert (g.scan_bytes, g.shuffle_write_bytes, g.shuffle_read_bytes, g.spill_bytes) == (800, 70, 70, 11)
    assert list(log.groups) == ["g:1"]
    assert log.stages == [("g:1", frozenset({"text"}), 2.5, 2), ("g:1", frozenset(), 0.5, 1)]
    assert log.files_read == {"g:1": 3}


# -- process cleanup ----------------------------------------------------------
_ORPHAN = """
import os, subprocess, sys
from perfbench import run
run._become_subreaper()
# the shell exits at once, orphaning its background sleep, as the Spark
# JVM orphans its launcher and Python workers when it ends
sh = subprocess.Popen(["sh", "-c", "sleep 60 & echo $!"], stdout=subprocess.PIPE, text=True)
orphan = int(sh.stdout.readline())
sh.wait()
seen = orphan in run._descendant_pids(os.getpid())
left = run._stop_children(grace_s=5)
print(seen, left, os.path.exists(f"/proc/{orphan}"))
"""


def test_stop_children_stops_and_reaps_orphans():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", _ORPHAN], cwd=root, capture_output=True,
                         text=True, timeout=60, check=True).stdout.split()
    assert out == ["True", "[]", "False"]
