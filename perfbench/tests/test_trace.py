"""Unit tests for the in-memory span tracer (no Spark).

    python3 -m pytest perfbench/tests/test_trace.py -q
"""

from __future__ import annotations

import json

import pytest

from perfbench.trace import Tracer


def _fake_clock(monkeypatch, times):
    it = iter(times)
    monkeypatch.setattr("perfbench.trace.time.time", lambda: next(it))


def test_self_time_subtracts_children(monkeypatch):
    # parent [0, 10]; children [1, 3] and [4, 8]: self = 10 - 2 - 4
    _fake_clock(monkeypatch, [0.0, 1.0, 3.0, 4.0, 8.0, 10.0])
    tr = Tracer("r", enabled=True)
    with tr.span("engine.apply_batch"):
        with tr.span("lakehouse.merge_cdc"):
            pass
        with tr.span("lakehouse.compact"):
            pass
    assert tr.self_durations("engine.apply_batch") == pytest.approx([4.0])
    assert tr.self_times()["lakehouse.merge_cdc"] == pytest.approx(2.0)
    assert tr.durations("engine.apply_batch") == pytest.approx([10.0])


def test_wrap_nests_calls_made_through_the_instance():
    class Table:
        def merge(self):
            return self.read() + 1

        def read(self):
            return 41

    class Engine:
        def __init__(self, table):
            self.table = table

        def apply(self):
            return self.table.merge()

    t = Table()
    e = Engine(t)
    tr = Tracer("r", enabled=True)
    tr.wrap(e, "apply", "engine.apply")
    tr.wrap(t, "merge", "lakehouse.merge", on_result=lambda a, out: a.update(out=out))
    tr.wrap(t, "read", "lakehouse.read")
    assert e.apply() == 42
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["lakehouse.read"]["parent"] == by_name["lakehouse.merge"]["id"]
    assert by_name["lakehouse.merge"]["parent"] == by_name["engine.apply"]["id"]
    assert by_name["engine.apply"]["parent"] is None
    assert by_name["lakehouse.merge"]["attrs"]["out"] == 42
    assert Table().read() == 41  # other instances untouched


def test_disabled_tracer_records_nothing():
    class Obj:
        def f(self):
            return 1

    o = Obj()
    tr = Tracer("r", enabled=False)
    tr.wrap(o, "f", "f")
    with tr.span("s") as attrs:
        attrs["x"] = 1
    tr.count("c", 3)
    assert o.f() == 1 and "f" not in vars(o)
    assert tr.spans == [] and dict(tr.counts) == {}


def test_spans_written_at_exit_carry_run_id_and_parent(tmp_path):
    tr = Tracer("run-7", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    out = tmp_path / "spans.jsonl"
    tr.write(str(out))
    rows = [json.loads(line) for line in out.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["outer", "inner"]
    for r in rows:
        assert {"name", "start", "end", "parent", "run_id"} <= set(r)
        assert r["run_id"] == "run-7" and r["end"] >= r["start"]
    assert rows[1]["parent"] == rows[0]["id"]


def test_reductions_skip_spans_before_since_but_write_them(monkeypatch, tmp_path):
    # a warm-up span [0, 5], then a measured one [10, 12]
    _fake_clock(monkeypatch, [0.0, 5.0, 10.0, 12.0])
    tr = Tracer("r", enabled=True)
    with tr.span("lakehouse.merge_cdc", buckets_rewritten=9):
        pass
    with tr.span("lakehouse.merge_cdc", buckets_rewritten=3):
        pass
    tr.since = 10.0
    assert tr.durations("lakehouse.merge_cdc") == pytest.approx([2.0])
    assert tr.attr_values("lakehouse.merge_cdc", "buckets_rewritten") == [3.0]
    assert tr.self_durations("lakehouse.merge_cdc") == pytest.approx([2.0])
    out = tmp_path / "spans.jsonl"
    tr.write(str(out))
    assert len(out.read_text().splitlines()) == 2
