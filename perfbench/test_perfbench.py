"""Tests for the benchmark's own machinery.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
from harness import closed_loop, fingerprint_rows, row_crc  # noqa: E402
from tracer import Tracer, _covered  # noqa: E402


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t

    def advance(self, dt: float) -> None:
        self.t += dt


def test_self_time_subtracts_nested_children():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("root") as root:
        clock.advance(1.0)
        with tr.span("a") as a:
            clock.advance(2.0)
            with tr.span("a.inner") as inner:
                clock.advance(0.5)
            clock.advance(0.5)
        with tr.span("b") as b:
            clock.advance(3.0)
        clock.advance(1.0)
    assert root.duration == pytest.approx(8.0)
    assert tr.self_time(root.sid) == pytest.approx(2.0)
    assert tr.self_time(a.sid) == pytest.approx(2.5)
    assert tr.self_time(inner.sid) == pytest.approx(0.5)
    assert tr.self_time(b.sid) == pytest.approx(3.0)
    assert tr.path(inner.sid) == "root/a/a.inner"
    assert inner.parent == a.sid and a.parent == root.sid


def test_covered_merges_overlaps_and_clips():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert _covered([(-1, 2), (8, 12)], 0, 10) == pytest.approx(4.0)
    assert _covered([], 0, 1) == 0.0


def test_wrap_records_a_span_and_restore_undoes_it():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = Tracer()
    tr.wrap(mod, "f", "layer.f")
    assert mod.f(1) == 2
    assert [s.name for s in tr.spans] == ["layer.f"]
    Tracer.restore(mod, "f")
    assert mod.f(1) == 2
    assert len(tr.spans) == 1


def test_fingerprint_ignores_row_order():
    rows = [(f"s{i}", "p", f"o{i % 7}", None) for i in range(200)]
    shuffled = rows[:]
    random.Random(3).shuffle(shuffled)
    assert fingerprint_rows(rows) == fingerprint_rows(shuffled)
    assert fingerprint_rows(rows) != fingerprint_rows(rows[:-1])
    assert fingerprint_rows(rows) != fingerprint_rows(rows[:-1] + [("x", "p", "o", None)])


def test_spark_fingerprint_ignores_row_order_and_matches_python():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession, functions as F

    from harness import fingerprint_triples

    spark = SparkSession.builder.master("local[1]").appName("perfbench-test").config(
        "spark.ui.enabled", "false").getOrCreate()
    try:
        rows = [(f"s{i}", "p", f"o{i % 5}", "true", None if i % 3 else "en", None)
                for i in range(50)]
        df = spark.createDataFrame(
            rows, "subj string, pred string, obj string, obj_is_iri string, "
                  "lang string, dtype string")
        fp = fingerprint_triples(df)
        assert fp == fingerprint_triples(df.orderBy(F.col("subj").desc()).repartition(3))
        assert fp == fingerprint_rows(rows)
    finally:
        spark.stop()


def test_closed_loop_counts_raises_failed_checks_and_timeouts():
    calls = {"n": 0}

    def iteration():
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("boom")
        return calls["n"]

    def check(handle):
        return "wrong output" if handle == 3 else None

    res = closed_loop(iteration, check, seconds=60, timeout_s=60, max_iters=5)
    assert res.attempted == 5
    assert res.failed == 2  # the raise (2) and the failed check (3)
    assert len(res.samples) == 3
    assert res.failed_ratio == pytest.approx(0.4)

    slow = closed_loop(lambda: None, lambda h: None, seconds=60, timeout_s=-1, max_iters=2)
    assert (slow.attempted, slow.failed, slow.samples) == (2, 2, [])
    assert "timed out" in slow.errors[0]


def test_closed_loop_runs_until_seconds_pass():
    res = closed_loop(lambda: None, lambda h: None, seconds=0.05, timeout_s=60)
    assert res.attempted >= 1 and res.failed == 0
    assert len(res.samples) == res.attempted


def test_row_crc_treats_none_as_empty():
    assert row_crc(["a", None]) == row_crc(["a", ""])


def test_eventlog_groups_tasks_by_span_description(tmp_path):
    def task(stage, launch, finish, shuffle=0, rows=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor Run Time": finish - launch,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                                 "Input Metrics": {"Records Read": rows}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "perfbench:probe/a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.job.description": "perfbench:probe/a/b"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
        task(0, 1000, 2000, shuffle=10, rows=5),
        task(1, 1500, 2500, shuffle=20),
        task(2, 4000, 5000, rows=7),
        task(3, 0, 9000, shuffle=99, rows=99),
    ]
    path = tmp_path / "local-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    assert eventlog.find_log(str(tmp_path), "local-1") == str(path)
    c = eventlog.read_counters(str(path))
    assert set(c) == {"probe/a", "probe/a/b"}
    a = c["probe/a"]
    assert (a["jobs"], a["tasks"], a["shuffle_write_bytes"], a["input_rows"]) == (1, 2, 30, 5)
    tot = eventlog.under(c, "probe/a")
    assert (tot["jobs"], tot["tasks"], tot["shuffle_write_bytes"], tot["input_rows"]) == (2, 3, 30, 12)
    assert eventlog.task_busy_s(tot) == pytest.approx(2.5)
