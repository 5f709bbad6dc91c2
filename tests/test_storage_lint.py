"""Frames are stored one way: ``operators/iterate.round_checkpoint``, whose
storage lives exactly as long as the frame is referenced. A ``.persist()`` or
``.cache()`` holds a CacheManager entry until someone unpersists it, so a
long-lived session accumulates blocks; a direct ``localCheckpoint`` or
``checkpoint`` bypasses the ``spark.ortholog.checkpoint.reliable`` switch.
With no CacheManager entry left, ``catalog.clearCache()`` is a no-op that only
suggests otherwise. This guard keeps every such call out of the package, the
tools and ``bench.py``."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = REPO / "ortholog_pipeline_spark"
HELPER = PACKAGE / "operators" / "iterate.py"
STORAGE_CALLS = {
    "persist", "cache", "unpersist", "localCheckpoint", "checkpoint", "step_generation",
    "clearCache",
}


def _violations(path: pathlib.Path) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name in STORAGE_CALLS:
            out.append(f"{path.name}:{node.lineno} calls {name}")
    return out


def test_package_stores_frames_only_through_round_checkpoint():
    modules = [p for p in sorted(PACKAGE.rglob("*.py")) if p != HELPER]
    assert len(modules) >= 50
    modules += [*sorted((REPO / "tools").glob("*.py")), REPO / "bench.py"]
    bad = [v for p in modules for v in _violations(p)]
    assert bad == [], f"storage outside iterate.round_checkpoint: {bad}"


def test_guard_flags_every_forbidden_form(tmp_path):
    src = tmp_path / "query.py"
    src.write_text(
        "a = df.persist()\n"
        "b = (df.select('x')\n      .cache())\n"
        "a.unpersist()\n"
        "c = df.localCheckpoint(eager=False)\n"
        "d = df.checkpoint()\n"
        "e = IT.step_generation(df, None)\n"
        "f = step_generation(df, None)\n"
        "g = IT.round_checkpoint(df)\n"
        "spark.catalog.clearCache()\n"
    )
    assert [v.split(" ", 1)[1] for v in _violations(src)] == [
        "calls persist",
        "calls cache",
        "calls unpersist",
        "calls localCheckpoint",
        "calls checkpoint",
        "calls step_generation",
        "calls step_generation",
        "calls clearCache",
    ]
