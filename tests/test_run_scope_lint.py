"""Staging concurrency stays behind one scope: every multi-table flow under
``ortholog_pipeline_spark/plans/`` writes through ``StateStore.run``, which
owns the staging threads and the commit/abort of the run. A flow that opens
its own thread pool, or drives ``begin_run``/``commit_run``/``abort_run`` by
hand, can abort while its own writers still run — the defect this guard
keeps out (VERDICT r11 #4)."""

from __future__ import annotations

import ast
import pathlib

PLANS = (
    pathlib.Path(__file__).resolve().parents[1] / "ortholog_pipeline_spark" / "plans"
)
THREAD_MODULES = {"concurrent", "threading"}
RUN_PROTOCOL = {"begin_run", "commit_run", "abort_run"}


def _violations(path: pathlib.Path) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mods = [node.module or ""]
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in RUN_PROTOCOL
        ):
            out.append(f"{path.name}:{node.lineno} calls {node.func.attr}")
            continue
        else:
            continue
        out += [
            f"{path.name}:{node.lineno} imports {m}"
            for m in mods
            if m.split(".")[0] in THREAD_MODULES
        ]
    return out


def test_plans_stage_only_through_the_run_scope():
    modules = sorted(PLANS.rglob("*.py"))
    assert len(modules) >= 3
    bad = [v for p in modules for v in _violations(p)]
    assert bad == [], f"staging outside StateStore.run: {bad}"


def test_guard_flags_every_forbidden_form(tmp_path):
    src = tmp_path / "flow.py"
    src.write_text(
        "import concurrent.futures\n"
        "from concurrent.futures import ThreadPoolExecutor\n"
        "import threading\n"
        "store.begin_run(['t'])\n"
        "store.commit_run({})\n"
        "store.abort_run()\n"
        "with store.run(['t']) as run:\n"
        "    run.stage('t', inserts=df)\n"
    )
    assert [v.split(" ", 1)[1] for v in _violations(src)] == [
        "imports concurrent.futures",
        "imports concurrent.futures",
        "imports threading",
        "calls begin_run",
        "calls commit_run",
        "calls abort_run",
    ]
