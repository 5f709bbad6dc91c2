"""Span recorder for the traced run.

Wraps the public functions of the program's layers in spans from the outside
(module attributes are swapped, nothing inside the program changes). Each
span records name, start, end, parent and the id of the load it belongs to.
Spans opened on worker threads (the flows' staging pools) have no parent on
their own thread and are parented to the load's root span. Spans stay in
memory until :meth:`Recorder.dump`.
"""

from __future__ import annotations

import inspect
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Recorder:
    def __init__(self):
        self.spans: list[dict] = []
        self.run_id: str | None = None
        self._root: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        #: span names whose return values are kept (for counts read later)
        self.keep: set[str] = set()
        self.returns: dict[str, list] = {}

    # -- spans ------------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._root
        run_id = self.run_id
        start = time.perf_counter()
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            end = time.perf_counter()
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "parent": parent, "run": run_id,
                    "start": start, "end": end,
                    "thread": threading.current_thread().name,
                })

    @contextmanager
    def run(self, run_id: str, name: str = "load"):
        """The root span of one load; worker-thread spans hang off it."""
        self.run_id = run_id
        with self.span(name) as sid:
            self._root = sid
            try:
                yield sid
            finally:
                self._root = None
                self.run_id = None

    # -- wrapping ---------------------------------------------------------------
    def wrap(self, owner: object, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        if isinstance(owner, type):
            original = owner.__dict__[attr]
        rec = self

        def traced(*args, **kwargs):
            with rec.span(name):
                out = original(*args, **kwargs)
            if name in rec.keep:
                rec.returns.setdefault(name, []).append(out)
            return out

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def wrap_module(self, module, prefix: str, names: list[str] | None = None) -> None:
        """Wrap every public function defined in ``module``."""
        for attr, obj in list(vars(module).items()):
            if names is not None and attr not in names:
                continue
            if (
                not attr.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == module.__name__
            ):
                self.wrap(module, attr, f"{prefix}.{attr}")

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- reading ----------------------------------------------------------------
    def of_run(self, run_id: str) -> list[dict]:
        return [s for s in self.spans if s["run"] == run_id]

    def dump(self, path: str, epoch_offset: float) -> None:
        """Write every span as one JSON line, with epoch-second times and the
        self time (duration minus the part its children cover)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                covered = union_s(clip(kids.get(s["id"], []), s["start"], s["end"]))
                out = dict(s)
                out["start"] = s["start"] + epoch_offset
                out["end"] = s["end"] + epoch_offset
                out["self_s"] = (s["end"] - s["start"]) - covered
                f.write(json.dumps(out) + "\n")


def union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def install(rec: Recorder) -> None:
    """Wrap the layers the per-layer metrics are read from."""
    from ortholog_pipeline_spark import plans, session
    from ortholog_pipeline_spark.operators import (
        bestfit, grouping, iterate, quality, resolve, sync,
    )
    from ortholog_pipeline_spark.plans import agr_load, species_load
    from ortholog_pipeline_spark.sources import files, state

    rec.wrap_module(session, "session", ["get_spark"])
    rec.wrap_module(files, "sources.files")
    for m in (resolve, grouping, bestfit, sync, quality, iterate):
        rec.wrap_module(m, "operators." + m.__name__.rsplit(".", 1)[1])
    for meth in ("read", "write", "apply_changes", "begin_run", "commit_run", "abort_run"):
        rec.wrap(state.StateStore, meth, f"sources.state.StateStore.{meth}")
    # imported by name into the flows: wrap where they are looked up
    for mod in (species_load, agr_load):
        rec.wrap(mod, "next_surrogate_keys", "sources.state.next_surrogate_keys")
    rec.wrap(plans, "run_species_load", "plans.species_load.run_species_load")
    rec.wrap(plans, "run_agr_load", "plans.agr_load.run_agr_load")
    rec.wrap(plans, "check_agr_freshness", "plans.agr_load.check_agr_freshness")
