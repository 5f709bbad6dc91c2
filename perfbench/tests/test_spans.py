"""Span recorder tests: nesting, worker threads, wrapping and self time.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import spans  # noqa: E402


def test_union_and_clip():
    assert spans.union_s([]) == 0
    assert spans.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_s([(0, 10), (2, 3)]) == 10
    assert spans.clip([(0, 4), (6, 9), (10, 11)], 2, 8) == [(2, 4), (6, 8)]


def test_nested_spans_record_parent_and_run():
    rec = spans.Recorder()
    with rec.run("r1") as root:
        with rec.span("outer") as outer:
            with rec.span("inner"):
                pass
    by = {s["name"]: s for s in rec.spans}
    assert by["outer"]["parent"] == root
    assert by["inner"]["parent"] == outer
    assert {s["run"] for s in rec.spans} == {"r1"}
    assert by["load"]["start"] <= by["outer"]["start"] <= by["inner"]["start"]
    assert by["inner"]["end"] <= by["outer"]["end"] <= by["load"]["end"]


def test_worker_thread_spans_hang_off_the_load():
    rec = spans.Recorder()
    with rec.run("r2") as root:
        done = []

        def work():
            with rec.span("staging"):
                done.append(1)

        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive() and done
    staging = [s for s in rec.spans if s["name"] == "staging"][0]
    assert staging["parent"] == root and staging["run"] == "r2"
    assert staging["thread"] != threading.current_thread().name


def test_wrap_module_and_unwrap_restore_functions():
    mod = types.ModuleType("fake_layer")

    def public(x):
        return x + 1

    def _private(x):
        return x

    public.__module__ = _private.__module__ = "fake_layer"
    mod.public, mod._private = public, _private
    rec = spans.Recorder()
    rec.keep = {"layer.public"}
    rec.wrap_module(mod, "layer")
    assert mod._private is _private and mod.public is not public
    assert mod.public(1) == 2
    assert [s["name"] for s in rec.spans] == ["layer.public"]
    assert rec.returns == {"layer.public": [2]}
    rec.unwrap()
    assert mod.public is public


def test_wrap_class_method_keeps_binding():
    class Store:
        def read(self, t):
            return (self, t)

    rec = spans.Recorder()
    rec.wrap(Store, "read", "store.read")
    s = Store()
    assert s.read("x") == (s, "x")
    rec.unwrap()
    assert "read" in Store.__dict__ and s.read("y") == (s, "y")
    assert [x["name"] for x in rec.spans] == ["store.read"]


def test_dump_writes_self_time(tmp_path):
    rec = spans.Recorder()
    rec.spans = [
        {"id": 1, "name": "a", "parent": None, "run": "r", "start": 0.0, "end": 10.0, "thread": "m"},
        {"id": 2, "name": "b", "parent": 1, "run": "r", "start": 1.0, "end": 4.0, "thread": "m"},
        {"id": 3, "name": "c", "parent": 1, "run": "r", "start": 3.0, "end": 6.0, "thread": "w"},
    ]
    out = tmp_path / "spans.jsonl"
    rec.dump(str(out), epoch_offset=100.0)
    rows = {r["name"]: r for r in map(json.loads, out.read_text().splitlines())}
    assert rows["a"]["self_s"] == 5.0  # children cover [1, 6]
    assert rows["b"]["self_s"] == 3.0
    assert rows["a"]["start"] == 100.0
